package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}
import graft.functions.{TextFunctions, VectorOps}
import graft.operators.{Dedup, Retrieval, Similarity, VectorIndex}

/** L1–L7 + extended LLM-pipeline ops (SURVEY.md §2.10): dedup (exact,
  * MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
  * search (brute force / LSH / IVF), text analysis (lang-id, quality,
  * token counting, fingerprints), multimodal join. */
object LlmQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  // shared by the retrieval queries (l34/l35/l38); declared first — object
  // vals initialize in declaration order and l38 precedes l34 in the file
  private val bm25Terms = Seq("vector", "window", "hash")

  // Shared oracle CTE: distinct 3-gram shingles per document.
  private val shingleCte =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [] END AS s
        FROM d)"""

  val l1 = GQuery(
    "l1_exact_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val kept = Dedup.dropExactDuplicates(d, "text").agg(count(lit(1)).as("kept_docs"))
      d.agg(count(lit(1)).as("total_docs")).crossJoin(kept)
    },
    Some("""SELECT (SELECT count(*) FROM documents) AS total_docs,
      (SELECT count(DISTINCT text) FROM documents) AS kept_docs"""))

  val l2 = GQuery(
    "l2_minhash_pairs",
    (s, dir) =>
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""$shingleCte
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
      ORDER BY id_a, id_b"""))

  val l2brute = GQuery(
    "l2_jaccard_brute",
    (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
    l2.oracle)

  private val simhashCte =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      h AS (SELECT doc_id, md5(tk) AS hx FROM toks),
      bits AS (SELECT doc_id, j,
          CAST(floor((strpos('0123456789abcdef', substring(hx, CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
               / pow(2, 3 - (j % 4))) AS BIGINT) % 2 AS bit
        FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS j) js),
      votes AS (SELECT doc_id, j, sum(bit * 2 - 1) AS v FROM bits GROUP BY doc_id, j),
      simh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN pow(2, j) ELSE 0 END) AS BIGINT) AS simhash
               FROM votes GROUP BY doc_id)"""

  val l2simhash = GQuery(
    "l2_simhash",
    (s, dir) =>
      Dedup.simhash48(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
        .limit(50),
    Some(s"$simhashCte SELECT doc_id, simhash FROM simh ORDER BY doc_id LIMIT 50"))

  val l2simhashPairs = GQuery(
    "l2_simhash_pairs",
    (s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
        .agg(count(lit(1)).as("n_pairs")),
    Some(s"""$simhashCte
      SELECT count(*) AS n_pairs FROM simh a JOIN simh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 8"""))

  // End-to-end fuzzy dedup: MinHash-LSH pairs → connected components →
  // keep the min-id document per cluster. The oracle recomputes the
  // clusters from the brute-force Jaccard pairs via a recursive-CTE
  // transitive closure (tractable at sf0.01; the Spark side is the
  // O(log n)-round star-contraction that scales).
  val l2cluster = GQuery(
    "l2_cluster_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val comp = Dedup.nearDupComponents(d, "doc_id", "text", threshold = 0.8)
      val clusters = comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      val kept = Dedup.dropNearDuplicates(d, "doc_id", "text", threshold = 0.8)
        .agg(count(lit(1)).as("kept_docs"))
      clusters.agg(
        count(lit(1)).as("dup_clusters"),
        sum(col("sz")).as("clustered_docs"),
        max(col("sz")).as("largest_cluster"))
        .crossJoin(kept)
    },
    Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a <> e.b
      ),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      cl AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
      SELECT
        (SELECT count(*) FROM cl) AS dup_clusters,
        (SELECT CAST(sum(sz) AS BIGINT) FROM cl) AS clustered_docs,
        (SELECT CAST(max(sz) AS BIGINT) FROM cl) AS largest_cluster,
        (SELECT count(*) FROM documents) -
          (SELECT count(*) FROM comp WHERE id <> component) AS kept_docs"""))

  val l2embedding = GQuery(
    "l2_embedding_neardup",
    (s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
      ORDER BY id_a, id_b"""))

  val l3 = GQuery(
    "l3_ann_brute_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.exactTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      pairs AS (SELECT q.vec_id, c.vec_id AS nn_id,
          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
      ranked AS (SELECT vec_id, nn_id, cosine,
          row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rank
        FROM pairs)
      SELECT vec_id, rank, nn_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY vec_id, rank"""))

  // Same exact semantics as l3 through the cluster-scale orientation
  // (broadcast queries, streamed corpus, per-partition top-k merged; the
  // shuffle carries only k per query and partition) — must hash-match the
  // SAME oracle as l3.
  val l3scalable = GQuery(
    "l3_ann_scalable_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.scalableTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    l3.oracle)

  // Approximate by design → rows-only check; recall vs brute force is
  // asserted in the ScalaTest suite.
  val l3lsh = GQuery(
    "l3_ann_lsh_topk",
    (s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank")),
    None)

  val l3ivf = GQuery(
    "l3_ann_ivf_topk",
    (s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 3)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank")),
    None)

  val l5 = GQuery(
    "l5_tfidf",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tk"))
      val tf = toks.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      val dfreq = toks.select(col("doc_id"), col("tk")).distinct()
        .groupBy(col("tk")).agg(count(lit(1)).as("dfreq"))
      val n = d.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tk").asc)
      tf.join(dfreq, "tk").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tk"),
          (col("tf") * (log((col("n") + 1.0) / (col("dfreq") + 1.0)) + 1.0)).as("score"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3 && col("doc_id") < 20)
        .select(col("doc_id"), col("rank"), col("tk"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      tf AS (SELECT doc_id, tk, count(*) AS tf FROM toks GROUP BY doc_id, tk),
      dfq AS (SELECT tk, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tk),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (SELECT doc_id, tf.tk AS tk, tf * (ln((n + 1.0) / (dfreq + 1.0)) + 1.0) AS score
        FROM tf JOIN dfq ON tf.tk = dfq.tk CROSS JOIN n),
      ranked AS (SELECT doc_id, tk, score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tk) AS rank
        FROM scored)
      SELECT doc_id, rank, tk, round(score, 6) AS score
      FROM ranked WHERE rank <= 3 AND doc_id < 20 ORDER BY doc_id, rank"""))

  private val enStop = Seq("the", "a", "of", "and", "is", "to", "in", "that")
  private val enStopSql = enStop.map(w => s"'$w'").mkString("[", ", ", "]")

  val l6 = GQuery(
    "l6_quality",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"),
          round(TextFunctions.qualityScore(col("text"), col("n_chars"), enStop), 4).as("quality"))
        .where(col("quality") >= 0.4 && col("lang").isin("en", "es"))
        .orderBy(col("doc_id"))
        .limit(100),
    Some(s"""WITH q AS (SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        round(
          (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END) * 0.4 +
          (CASE WHEN (n_chars::DOUBLE - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' '))
                BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
          (len(list_filter(string_split(text, ' '), tk -> list_contains($enStopSql, tk)))::DOUBLE
           / len(string_split(text, ' '))) * 0.3, 4) AS quality
      FROM documents)
      SELECT doc_id, lang, n_tokens, quality FROM q
      WHERE quality >= 0.4 AND lang IN ('en', 'es') ORDER BY doc_id LIMIT 100"""))

  private def markerSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  // k-means-trained coarse quantizer (vs l3ivf's pre-assigned label cells);
  // approximate by design → rows-only; recall asserted in SimilaritySpec.
  val l3kmeans = GQuery(
    "l3_ann_kmeans_topk",
    (s, dir) =>
      Similarity.ivfTopKTrained(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nCells = 16, nProbe = 4)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank")),
    None)

  // Product-quantization ANN (ADC + exact re-rank); approximate by design →
  // rows-only; recall and determinism asserted in SimilaritySpec.
  val l3pq = GQuery(
    "l3_ann_pq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 100), "vec_id", "embedding",
        k = 3, m = 8, kCodes = 16, shortlist = 30, iters = 3)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    None)

  // Driver-visible ANN recall (round-4 verdict #4, un-pinned round 9):
  // the approximate tiers are no_oracle by design, but their RECALL
  // against the in-Spark brute-force top-k is checkable — each tier emits
  // (queries, ground-truth pairs, recall_ok), where recall_ok is the
  // in-query hits/pairs ratio gated against the tier's design threshold
  // (Similarity.recallGate). DuckDB recomputes queries/pairs from its own
  // brute-force top-3 and asserts recall_ok literally true — so the gate
  // survives a testdata regeneration (no dataset-pinned hit constants
  // anywhere), while a tier whose recall collapses below its contract
  // still hash-fails. Exact hit determinism across partition counts stays
  // asserted in SimilaritySpec.
  private def annRecallOracle(whereQ: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      pairs AS (SELECT q.vec_id, c.vec_id AS nn_id,
          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id <> c.vec_id $whereQ),
      ranked AS (SELECT vec_id, nn_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rank
        FROM pairs)
      SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS queries,
             CAST(count(*) AS BIGINT) AS pairs,
             true AS recall_ok
      FROM ranked WHERE rank <= 3"""

  private def brute3(s: SparkSession, dir: String, maxQ: Option[Long] = None) = {
    val emb = t(s, dir, "embeddings")
    val q = maxQ.map(m => emb.where(col("vec_id") < m)).getOrElse(emb)
    Similarity.exactTopK(emb, q, "vec_id", "embedding", k = 3)
  }

  // Per-tier thresholds: comfortably under each tier's measured sf0.01
  // recall (lsh 0.065, ivf 0.31, kmeans 0.64, pq 0.64, sq 1.0) yet high
  // enough that a broken bucketing/training/shortlist still fails.
  val l3lshRecall = GQuery(
    "l3_ann_lsh_recall",
    (s, dir) => Similarity.recallGate(
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 3),
      brute3(s, dir), minRecall = 0.04),
    Some(annRecallOracle("")))

  val l3ivfRecall = GQuery(
    "l3_ann_ivf_recall",
    (s, dir) => Similarity.recallGate(
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 3),
      brute3(s, dir), minRecall = 0.2),
    Some(annRecallOracle("")))

  val l3kmeansRecall = GQuery(
    "l3_ann_kmeans_recall",
    (s, dir) => Similarity.recallGate(
      Similarity.ivfTopKTrained(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nCells = 16, nProbe = 4),
      brute3(s, dir), minRecall = 0.45),
    Some(annRecallOracle("")))

  val l3pqRecall = GQuery(
    "l3_ann_pq_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.recallGate(
        Similarity.pqTopK(emb, emb.where(col("vec_id") < 100), "vec_id", "embedding",
          k = 3, m = 8, kCodes = 16, shortlist = 30, iters = 3),
        brute3(s, dir, maxQ = Some(100L)), minRecall = 0.45)
    },
    Some(annRecallOracle("WHERE q.vec_id < 100")))

  /** SQ8 scalar-quantization ANN (approximate by design → rows-only; the
    * recall twin below is the hash gate). */
  val l3sq = GQuery(
    "l3_ann_sq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sqTopK(emb, emb.where(col("vec_id") < 100), "vec_id", "embedding",
        k = 3, shortlist = 30)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    None)

  val l3sqRecall = GQuery(
    "l3_ann_sq_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.recallGate(
        Similarity.sqTopK(emb, emb.where(col("vec_id") < 100), "vec_id", "embedding",
          k = 3, shortlist = 30),
        brute3(s, dir, maxQ = Some(100L)), minRecall = 0.9)
    },
    Some(annRecallOracle("WHERE q.vec_id < 100")))

  /** Statistical-LM quality scoring (CCNet-style perplexity proxy): MLE
    * bigram model trained on the corpus, per-doc mean log-prob in exact
    * integer micro-units (float determinism contract in
    * TextStats.bigramLmScores). */
  val l26 = GQuery(
    "l26_bigram_lm",
    (s, dir) =>
      graft.operators.TextStats.bigramLmScores(t(s, dir, "documents"), "doc_id", "text")
        .where(col("doc_id") < 50)
        .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      p AS (SELECT doc_id, unnest(list_slice(w, 1, len(w) - 1)) AS w1,
                   unnest(list_slice(w, 2, len(w))) AS w2
            FROM d WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, count(*) AS n2 FROM p GROUP BY w1, w2),
      c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
      m AS (SELECT doc_id, CAST(round(ln(n2 / n1) * 1000000) AS BIGINT) AS micro
            FROM p JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
      SELECT doc_id, count(*) AS n_bigrams, CAST(sum(micro) AS BIGINT) AS score_micro,
             round(CAST(sum(micro) AS BIGINT) / count(*) / 1000000.0, 4) AS lm_score
      FROM m WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id"""))

  val l4langid = GQuery(
    "l4_langid",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextFunctions.langGuess(col("text")).as("lang_guess"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("lang_guess")),
    Some {
      val scores = TextFunctions.langMarkers.map { case (code, words) =>
        s"len(list_filter(string_split(text, ' '), tk -> list_contains(${markerSql(words)}, tk))) AS s_$code"
      }.mkString(",\n        ")
      s"""WITH s AS (SELECT doc_id, lang,
        $scores
      FROM documents)
      SELECT lang,
        CASE WHEN s_de + s_en + s_es + s_fr + s_zh = 0 THEN 'und' ELSE
          CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh' ELSE
            CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr' ELSE
              CASE WHEN s_es > greatest(s_de, s_en) THEN 'es' ELSE
                CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END END END END END AS lang_guess,
        count(*) AS cnt
      FROM s GROUP BY 1, 2 ORDER BY lang, lang_guess"""
    })

  val l7 = GQuery(
    "l7_multimodal_join",
    (s, dir) =>
      t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS cnt, round(avg(n_chars), 2) AS avg_chars,
      count(DISTINCT label) AS n_labels
      FROM documents JOIN embeddings ON doc_id = vec_id
      GROUP BY lang ORDER BY lang"""))

  val l8 = GQuery(
    "l8_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
        .limit(50),
    Some(s"""$shingleCte,
      fp AS (SELECT sh.doc_id AS doc_id,
          CASE WHEN len(s) > 0 THEN list_min(list_transform(s, x -> md5(x))) ELSE md5(text) END AS fp
        FROM sh JOIN documents ON sh.doc_id = documents.doc_id)
      SELECT doc_id, fp FROM fp ORDER BY doc_id LIMIT 50"""))

  val l9 = GQuery(
    "l9_token_count",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          sum(size(TextFunctions.tokens(col("text")))).as("ws_tokens"),
          sum(TextFunctions.regexTokenCount(col("text"))).as("bpeish_tokens"))
        .orderBy(col("lang")),
    Some(s"""SELECT lang,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      CAST(sum(len(regexp_extract_all(text, '${TextFunctions.bpeishPattern}'))) AS BIGINT) AS bpeish_tokens
      FROM documents GROUP BY lang ORDER BY lang"""))

  val l10 = GQuery(
    "l10_pii_redact",
    (s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") < 30)
        .select(col("doc_id"),
          TextFunctions.redactPii(concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
            lit(" ip 10.0.0."), pmod(col("doc_id"), lit(255)).cast("string"),
            lit(" phone 555-0100-"), col("doc_id").cast("string"))).as("redacted"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        concat(substring(text, 1, 40),
               ' contact user', CAST(doc_id AS VARCHAR), '@example.com',
               ' ip 10.0.0.', CAST(doc_id % 255 AS VARCHAR),
               ' phone 555-0100-', CAST(doc_id AS VARCHAR)),
        '${TextFunctions.emailPattern}', '<EMAIL>', 'g'),
        '${TextFunctions.ipv4Pattern}', '<IP>', 'g'),
        '${TextFunctions.longDigitPattern}', '<NUMBER>', 'g') AS redacted
      FROM documents WHERE doc_id < 30 ORDER BY doc_id"""))

  val l11 = GQuery(
    "l11_deterministic_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Sampling.deterministicSample(d, "doc_id", keepBuckets = 20)
        .agg(count(lit(1)).as("sampled"), min(col("doc_id")).as("first_id"))
    },
    Some("""SELECT count(*) AS sampled, min(doc_id) AS first_id FROM documents
      WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100) < 20"""))

  // Per-stratum keep fractions (training-mix balancing), hash-deterministic.
  val l11b = GQuery(
    "l11b_stratified_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Sampling.stratifiedSample(d, "lang", "doc_id",
        Map("en" -> 50, "es" -> 20, "zh" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("sampled"), min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    },
    Some("""WITH b AS (SELECT doc_id, lang,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100 AS bucket
      FROM documents)
      SELECT lang, count(*) AS sampled, min(doc_id) AS first_id FROM b
      WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 WHEN 'zh' THEN 10 ELSE -1 END
      GROUP BY lang ORDER BY lang"""))

  /** L33 TEMPERATURE MIX (τ = 2, target 50%): the pretraining source-
    * rebalancing rule p_s ∝ n_s^(1/τ). τ = 2 makes the exponent a sqrt —
    * IEEE-exact on both engines, so the per-source thresholds the two
    * sides derive from their own count aggregates agree bit-for-bit and
    * the md5-bucket membership hashes match. */
  val l33 = GQuery(
    "l33_temperature_mix",
    (s, dir) => {
      graft.operators.Sampling.temperatureMix(
        t(s, dir, "documents"), "source", "doc_id",
        temperature = 2.0, targetFraction = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("sampled"), min(col("doc_id")).as("first_id"))
        .orderBy(col("source"))
    },
    Some("""WITH cnt AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
        FROM documents GROUP BY source),
      tot AS (SELECT sum(n) AS total, sum(sqrt(n)) AS powsum FROM cnt),
      thr AS (SELECT source,
          CAST(floor(LEAST(1.0, (0.5 * total / powsum) * sqrt(n) / n) * 10000.0) AS BIGINT) AS t
        FROM cnt, tot),
      b AS (SELECT d.doc_id, d.source,
          ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER % 10000 AS bucket
        FROM documents d)
      SELECT b.source, count(*) AS sampled, min(b.doc_id) AS first_id
      FROM b JOIN thr ON thr.source = b.source
      WHERE b.bucket < thr.t
      GROUP BY b.source ORDER BY b.source"""))

  /** L36 WEIGHTED SAMPLING: quality-proportional "soft filtering" — keep
    * probability rises linearly with document length (capped at 1), so
    * longer documents survive more often without a hard cutoff. The
    * md5-bucket device makes the sample a plain pushdown predicate that is
    * bit-stable across runs/layouts; per-language kept counts + character
    * mass are the auditable output. */
  val l36 = GQuery(
    "l36_weighted_sampling",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val p = col("n_chars") / lit(2000.0)
      graft.operators.Sampling.weightedSample(d, "doc_id", p)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("sampled"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
    Some("""WITH b AS (SELECT doc_id, lang, n_chars,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 10000 AS bucket,
        CAST(floor(LEAST(1.0, GREATEST(n_chars / 2000.0, 0.0)) * 10000) AS BIGINT) AS thr
      FROM documents)
      SELECT lang, count(*) AS sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b WHERE bucket < thr GROUP BY lang ORDER BY lang"""))

  /** L37 EPOCH SHUFFLE: deterministic training-order randomization —
    * global order by md5(epoch-seed ∥ doc_id), identical across runs and
    * cluster layouts (unlike rand(seed), which is partition-dependent).
    * The head of epoch 42's order is the auditable output; a full epoch
    * write is the same key through a range-partitioned sort. */
  val l37 = GQuery(
    "l37_corpus_shuffle",
    (s, dir) => {
      val key = graft.operators.Sampling.epochShuffleKey(col("doc_id"), "ep42")
      val ord = Seq(col("shuffle_key").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), key.as("shuffle_key"))
        .orderBy(ord: _*)
        .limit(25)
        .withColumn("pos", row_number().over(Window.orderBy(ord: _*)))
        .select(col("pos"), col("doc_id"), col("shuffle_key"))
    },
    Some("""WITH h AS (SELECT doc_id,
        md5('ep42-' || CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents),
      r AS (SELECT doc_id, shuffle_key,
        row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos FROM h)
      SELECT CAST(pos AS INT) AS pos, doc_id, shuffle_key
      FROM r WHERE pos <= 25 ORDER BY pos"""))

  /** L41 EXACTLY-k-PER-STRATUM sample: the balanced-evaluation-set
    * builder — exactly 3 documents per language, chosen by the
    * deterministic md5(seed-key) order (not a fraction, not an RNG). The
    * operator's hash-prefix prefilter bounds the ranking shuffle to ~8k
    * candidates per stratum at any corpus size and is provably lossless,
    * so the oracle is the NAIVE window over everything — hash-matching it
    * proves the scale path computes the identical sample. */
  val l41 = GQuery(
    "l41_fixed_k_sample",
    (s, dir) => {
      graft.operators.Sampling.fixedKPerStratum(
          t(s, dir, "documents"), "lang", "doc_id", k = 3, seed = "l41")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Some("""WITH r AS (SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang
          ORDER BY md5('l41-' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
      SELECT lang, doc_id FROM r WHERE rk <= 3 ORDER BY lang, doc_id"""))

  /** L38 RAG CONTEXT ASSEMBLY: the full retrieval path composed end to
    * end — sliding-window chunking (l31's construction), BM25 scored at
    * CHUNK granularity (l34's arithmetic over the chunk corpus), a
    * per-document diversity cap (max 2 chunks per doc, so one long
    * boilerplate doc can't monopolize the context), and a running token
    * budget (cumulative chunk tokens ≤ 192) — exactly what a retriever
    * hands an LLM. Plan shape: the chunk fan-out is a no-shuffle
    * projection + posexplode; BM25 adds one broadcast stats row; the
    * per-doc cap is a doc-partitioned window; then a TakeOrderedAndProject
    * (`orderBy.limit(25)`, top-k per partition then a 25-row driver merge,
    * the l37 shape) bounds the candidate stream BEFORE the global rank /
    * running-budget windows, so the only unpartitioned windows in the plan
    * run over ≤ 25 rows at any corpus size — never a one-task global sort. */
  val l38 = GQuery(
    "l38_rag_context",
    (s, dir) => {
      val chunks = t(s, dir, "documents").select(col("doc_id"),
          posexplode(TextFunctions.slidingTokenChunks(col("text"), 32, 24))
            .as(Seq("chunk_idx", "chunk_text")))
        .select((col("doc_id") * 10000 + col("chunk_idx")).as("cid"),
          col("doc_id"), col("chunk_idx"), col("chunk_text"))
      val scored = graft.operators.Retrieval
        .bm25Scored(chunks, "cid", "chunk_text", bm25Terms, k1 = 1.2, b = 0.75)
        .join(chunks, "cid")
      val perDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("cid"))
      val ord = Window.orderBy(col("score").desc, col("cid"))
      scored
        .withColumn("doc_rank", row_number().over(perDoc))
        .where(col("doc_rank") <= 2)
        // Lossless prefilter: rank ≤ 10 survivors are necessarily within
        // the top 25 by (score desc, cid), so the limit can't drop them.
        .orderBy(col("score").desc, col("cid"))
        .limit(25)
        .withColumn("rank", row_number().over(ord))
        .where(col("rank") <= 10)
        .withColumn("n_toks", size(TextFunctions.tokens(col("chunk_text"))))
        .withColumn("cum_toks", sum(col("n_toks")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("cum_toks") <= 192)
        .select(col("rank"), col("doc_id"), col("chunk_idx"),
          round(col("score"), 6).as("score"),
          col("n_toks").cast("long").as("n_toks"), col("cum_toks"))
        .orderBy(col("rank"))
    },
    Some {
      val tfCols = bm25Terms.indices.map(i =>
        s"""CAST(len(list_filter(string_split(chunk_text, ' '), x -> x = '${bm25Terms(i)}')) AS DOUBLE) AS tf_$i""")
        .mkString(",\n    ")
      val dfCols = bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i").mkString(",\n    ")
      val contribs = bm25Terms.indices.map(i =>
        s"ln(1.0 + (n - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * (1.2 + 1.0)) / (tf_$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))")
        .mkString(" +\n    ")
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      nn AS (SELECT doc_id, w,
          GREATEST(CAST(ceil((len(w) - 32) / 24.0) AS INT), 0) AS max_i FROM t0),
      ee AS (SELECT doc_id, w, unnest(range(0, max_i + 1)) AS chunk_idx FROM nn),
      ch AS (SELECT doc_id * 10000 + chunk_idx AS cid, doc_id, chunk_idx,
          array_to_string(list_slice(w, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ') AS chunk_text
        FROM ee),
      pt AS (SELECT cid, doc_id, chunk_idx, chunk_text,
        CAST(len(string_split(chunk_text, ' ')) AS DOUBLE) AS dl,
        $tfCols
      FROM ch),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        $dfCols
      FROM pt),
      sc AS (SELECT cid, doc_id, chunk_idx, chunk_text,
        $contribs AS score
      FROM pt CROSS JOIN st WHERE score > 0),
      capped AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cid) AS doc_rank
        FROM sc QUALIFY doc_rank <= 2),
      ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, cid) AS rank
        FROM capped QUALIFY rank <= 10),
      budg AS (SELECT rank, doc_id, chunk_idx, score,
          CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_toks,
          CAST(sum(CAST(len(string_split(chunk_text, ' ')) AS BIGINT))
            OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        FROM ranked)
      SELECT CAST(rank AS INT) AS rank, doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        round(score, 6) AS score, n_toks, cum_toks
      FROM budg WHERE cum_toks <= 192 ORDER BY rank"""
    })

  /** L39 LEAKAGE-SAFE SPLIT: train/test splitting at near-dup-CLUSTER
    * granularity — every document in a MinHash cluster lands on the same
    * side (split unit = the cluster's component id, singletons their own
    * id), so a test document can never have a near-duplicate in train.
    * The `crossing_pairs` column PROVES the property: near-dup pairs
    * whose sides differ — 0 by construction, and the oracle re-derives
    * the same 0 from its own recursive-CTE clusters. The doc-level split
    * (l12) cannot promise this. */
  val l39 = GQuery(
    "l39_leakage_safe_split",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val comp = Dedup.nearDupComponents(d, "doc_id", "text", threshold = 0.8)
        .select(col("id").as("doc_id"), col("component"))
      val unit = d.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("unit"))
      val sided = unit.withColumn("is_test",
        TextFunctions.hashBucket(col("unit"), 100) < 10)
      val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val crossing = pairs
        .join(sided.select(col("doc_id").as("id_a"), col("is_test").as("ta")), "id_a")
        .join(sided.select(col("doc_id").as("id_b"), col("is_test").as("tb")), "id_b")
        .where(col("ta") =!= col("tb"))
        .agg(count(lit(1)).as("crossing_pairs"))
      sided.agg(
        sum(when(!col("is_test"), 1L).otherwise(0L)).cast("long").as("train_docs"),
        sum(when(col("is_test"), 1L).otherwise(0L)).cast("long").as("test_docs"))
        .crossJoin(crossing)
    },
    Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a <> e.b
      ),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      u AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS unit
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      sided AS (SELECT doc_id,
          (('0x' || substring(md5(CAST(unit AS VARCHAR)), 1, 4))::INTEGER % 100) < 10 AS is_test
        FROM u)
      SELECT
        (SELECT count(*) FROM sided WHERE NOT is_test) AS train_docs,
        (SELECT count(*) FROM sided WHERE is_test) AS test_docs,
        (SELECT count(*) FROM p
          JOIN sided sa ON p.id_a = sa.doc_id
          JOIN sided sb ON p.id_b = sb.doc_id
          WHERE sa.is_test <> sb.is_test) AS crossing_pairs"""))

  val l12 = GQuery(
    "l12_train_test_split",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val (train, test) = graft.operators.Sampling.trainTestSplit(d, "doc_id", testBuckets = 10)
      train.agg(count(lit(1)).as("train_cnt"))
        .crossJoin(test.agg(count(lit(1)).as("test_cnt")))
        .crossJoin(train.select("doc_id").intersect(test.select("doc_id"))
          .agg(count(lit(1)).as("overlap")))
    },
    Some("""WITH b AS (SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100 AS bucket
      FROM documents)
      SELECT (SELECT count(*) FROM b WHERE bucket >= 10) AS train_cnt,
             (SELECT count(*) FROM b WHERE bucket < 10) AS test_cnt,
             0::BIGINT AS overlap"""))

  val l13 = GQuery(
    "l13_sequence_packing",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Packing.packSummary(d, "doc_id",
        size(TextFunctions.tokens(col("text"))), budget = 2048)
        .limit(100)
    },
    Some("""WITH toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks)
      SELECT CAST(floor((cum - n) / 2048) AS BIGINT) AS bin,
             count(*) AS docs, CAST(sum(n) AS BIGINT) AS tokens
      FROM c GROUP BY 1 ORDER BY bin LIMIT 100"""))

  // Gopher-style repetition profile (TextStats.repetitionStats): per-doc
  // top-token / top-bigram concentration and duplicate-trigram fraction.
  val l14 = GQuery(
    "l14_repetition",
    (s, dir) =>
      graft.operators.TextStats.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("top_token_frac"), 4).as("top_token_frac"),
          round(col("top_bigram_frac"), 4).as("top_bigram_frac"),
          round(col("dup_trigram_frac"), 4).as("dup_trigram_frac"))
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      tc AS (SELECT doc_id, tk, count(*) AS c FROM toks GROUP BY 1, 2),
      t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               max(c)::DOUBLE / sum(c) AS top_token_frac FROM tc GROUP BY 1),
      d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
             FROM d WHERE len(w) >= 2),
      bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      b1 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bc GROUP BY 1),
      tg AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
             FROM d WHERE len(w) >= 3),
      gc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
      g1 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) AS dup_trigram_frac
             FROM gc GROUP BY 1)
      SELECT t1.doc_id, n_tokens,
        round(top_token_frac, 4) AS top_token_frac,
        round(coalesce(b1.top_bigram_frac, 0), 4) AS top_bigram_frac,
        round(coalesce(g1.dup_trigram_frac, 0), 4) AS dup_trigram_frac
      FROM t1 LEFT JOIN b1 USING (doc_id) LEFT JOIN g1 USING (doc_id)
      ORDER BY doc_id"""))

  // Benchmark decontamination (Contamination.contaminated): test slice =
  // doc_id % 10 = 0, train = the rest; flag any test doc sharing a 5-gram.
  val l15 = GQuery(
    "l15_contamination",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Contamination.contaminated(
        d.where(pmod(col("doc_id"), lit(10)) === 0),
        d.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", n = 5)
        .orderBy(col("test_id"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT doc_id,
          CASE WHEN len(w) >= 5
            THEN list_distinct(list_transform(range(1, len(w) - 3),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
            ELSE [] END AS s
        FROM d),
      tg AS (SELECT doc_id AS test_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
      rg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0),
      p AS (SELECT test_id, train_id, count(*) AS shared FROM tg JOIN rg USING (g) GROUP BY 1, 2)
      SELECT test_id, count(*) AS n_train_docs, CAST(max(shared) AS BIGINT) AS max_shared
      FROM p GROUP BY test_id ORDER BY test_id"""))

  // Exact shared token runs (Contamination.sharedSpans): longest common
  // consecutive run per document pair, via positional 3-gram equi-join +
  // gaps-and-islands — the substring-level dedup signal.
  val l16 = GQuery(
    "l16_shared_spans",
    (s, dir) =>
      graft.operators.Contamination.sharedSpans(
        t(s, dir, "documents"), "doc_id", "text", n = 3, minSpanTokens = 10)
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      pg AS (SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
             FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d WHERE len(w) >= 3)),
      m AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, a.pos - b.pos AS diag
            FROM pg a JOIN pg b ON a.g = b.g AND a.doc_id < b.doc_id),
      isl AS (SELECT id_a, id_b, diag, pos_a,
              pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
              FROM m),
      runs AS (SELECT id_a, id_b, count(*) + 2 AS span FROM isl GROUP BY id_a, id_b, diag, island),
      mx AS (SELECT id_a, id_b, CAST(max(span) AS BIGINT) AS max_span_tokens FROM runs GROUP BY 1, 2)
      SELECT id_a, id_b, max_span_tokens FROM mx WHERE max_span_tokens >= 10 ORDER BY id_a, id_b"""))

  // The end-to-end curation pipeline — the composition a training-data user
  // actually runs: quality gate → repetition gate → exact dedup (min-id
  // representative per text, deterministic) → hash-bucket sample → per-lang
  // corpus stats. Every stage is one of the engine's operators; the whole
  // chain stays a single declarative plan and hash-matches DuckDB.
  val l17 = GQuery(
    "l17_corpus_pipeline",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val quality = d
        .withColumn("quality",
          round(TextFunctions.qualityScore(col("text"), col("n_chars"), enStop), 4))
        .where(col("quality") >= 0.4)
      val clean = graft.operators.TextStats.dropRepetitious(
        quality, "doc_id", "text",
        maxTopTokenFrac = 0.2, maxTopBigramFrac = 0.2, maxDupTrigramFrac = 0.3)
      val w = Window.partitionBy(col("text"))
      val deduped = clean
        .withColumn("__min_id", min(col("doc_id")).over(w))
        .where(col("doc_id") === col("__min_id"))
      val sampled = graft.operators.Sampling.deterministicSample(deduped, "doc_id", 50)
      sampled
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(TextFunctions.tokens(col("text")))).as("tokens"),
          // integer 4-dp quality units, not round(avg(...), 4): an average
          // of rounded values can land EXACTLY on a half at the target
          // scale (measured: fr = 0.71745 → Spark 0.7175 vs DuckDB 0.7174,
          // the §0 rule-2 boundary case), while a sum of exact-4dp units is
          // integral up to ~1e-10 of double noise
          round(sum(col("quality")) * 10000).cast("long").as("quality_units"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH q AS (SELECT doc_id, lang, text,
        round(
          (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END) * 0.4 +
          (CASE WHEN (n_chars::DOUBLE - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' '))
                BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
          (len(list_filter(string_split(text, ' '), tk -> list_contains($enStopSql, tk)))::DOUBLE
           / len(string_split(text, ' '))) * 0.3, 4) AS quality
      FROM documents),
      qf AS (SELECT * FROM q WHERE quality >= 0.4),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM qf),
      tc AS (SELECT doc_id, tk, count(*) AS c FROM toks GROUP BY 1, 2),
      t1 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_token_frac FROM tc GROUP BY 1),
      dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM qf),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
             FROM dw WHERE len(w) >= 2),
      bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      b1 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bc GROUP BY 1),
      tg AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
             FROM dw WHERE len(w) >= 3),
      gc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
      g1 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) AS dup_trigram_frac
             FROM gc GROUP BY 1),
      clean AS (SELECT qf.* FROM qf
        LEFT JOIN t1 USING (doc_id) LEFT JOIN b1 USING (doc_id) LEFT JOIN g1 USING (doc_id)
        WHERE coalesce(t1.top_token_frac, 0) <= 0.2
          AND coalesce(b1.top_bigram_frac, 0) <= 0.2
          AND coalesce(g1.dup_trigram_frac, 0) <= 0.3),
      dedup AS (SELECT * FROM clean
        WHERE doc_id = (SELECT min(c2.doc_id) FROM clean c2 WHERE c2.text = clean.text)),
      sampled AS (SELECT * FROM dedup
        WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100) < 50)
      SELECT lang, count(*) AS docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        CAST(round(sum(quality) * 10000) AS BIGINT) AS quality_units
      FROM sampled GROUP BY lang ORDER BY lang"""))

  // Incremental ingestion dedup: the incoming slice (doc_id % 5 = 0) is
  // filtered against the already-ingested corpus (the rest), then
  // near-deduped among itself. LSH banding has total recall at 0.8 for
  // r=2/b=64, so the declared value hash-matches the brute-force oracle
  // (recursive-CTE closure for the within-batch clusters, as in l2_cluster).
  val l18 = GQuery(
    "l18_incremental_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val inc = d.where(pmod(col("doc_id"), lit(5)) === 0)
      val ex = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val (hits, kept) = Dedup.incrementalNearDupSplit(inc, ex, "doc_id", "text", 0.8)
      inc.agg(count(lit(1)).as("incoming_docs"))
        .crossJoin(hits.agg(count(lit(1)).as("dropped_vs_existing")))
        .crossJoin(kept.agg(count(lit(1)).as("kept_docs")))
    },
    Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      x AS (SELECT DISTINCT a.doc_id AS id
        FROM sh a JOIN sh b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      fresh AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id FROM x)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        JOIN fresh fa ON fa.doc_id = a.doc_id JOIN fresh fb ON fb.doc_id = b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a <> e.b
      ),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT
        (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS incoming_docs,
        (SELECT count(*) FROM x) AS dropped_vs_existing,
        (SELECT count(*) FROM fresh) -
          (SELECT count(*) FROM comp WHERE id <> component) AS kept_docs"""))

  /** Near-dedup keeping the BEST cluster member (longest by n_chars, ties
    * to lower id) instead of the arbitrary min id — the production
    * selection rule. Oracle encodes the (n_chars, -id) tie-break as one
    * scalar (valid while ids < 1e6). */
  val l2quality = GQuery(
    "l2b_quality_dedup",
    (s, dir) =>
      Dedup.dropNearDuplicatesBy(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, canonicalBy = col("n_chars"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("doc_id")).as("kept_id_sum"),
          sum(col("n_chars")).cast("long").as("kept_chars")),
    Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a <> e.b
      ),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      win AS (SELECT component, arg_max(comp.id, doc.n_chars::BIGINT * 1000000 - doc.doc_id) AS keep
              FROM comp JOIN documents doc ON doc.doc_id = comp.id GROUP BY component),
      losers AS (SELECT id FROM comp WHERE id NOT IN (SELECT keep FROM win)),
      kept AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT id FROM losers))
      SELECT count(*) AS kept_docs, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
             CAST(sum(n_chars) AS BIGINT) AS kept_chars FROM kept"""))

  /** C4-style line-level dedup over 10-token chunk "lines" (the fixture
    * corpus has no newlines; real corpora pass split(text, "\n")). Output
    * compares the reassembled text by md5 so the hash check covers content,
    * not just counts. */
  val l19 = GQuery(
    "l19_line_dedup",
    (s, dir) =>
      Dedup.dropDuplicateLines(t(s, dir, "documents"), "doc_id",
          TextFunctions.tokenChunks(col("text"), 10), minOccurrences = 2, sep = " ")
        .select(col("doc_id"), col("kept_lines"), md5(col("text")).as("content_md5"))
        .orderBy(col("doc_id"))
        .limit(50),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      lines AS (SELECT doc_id, i AS pos, array_to_string(w[i*10+1:i*10+10], ' ') AS line
                FROM toks, unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) AS t(i)),
      dup AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 2),
      kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l ANTI JOIN dup d ON l.line = d.line),
      re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
                    md5(string_agg(line, ' ' ORDER BY pos)) AS content_md5
             FROM kept GROUP BY doc_id)
      SELECT d.doc_id, coalesce(r.kept_lines, 0) AS kept_lines,
             coalesce(r.content_md5, md5('')) AS content_md5
      FROM documents d LEFT JOIN re r ON d.doc_id = r.doc_id
      ORDER BY d.doc_id LIMIT 50"""))

  /** Corpus-wide top-k n-grams (here bigrams): the frequency table behind
    * boilerplate lists and stop-gram caps. One map-side-combined groupBy,
    * top-k via TakeOrdered — no full sort at scale. */
  val l20 = GQuery(
    "l20_top_ngrams",
    (s, dir) =>
      graft.Spread.ifNarrow(t(s, dir, "documents"))
        .select(explode(
          TextFunctions.ngramsOfTokens(TextFunctions.tokens(col("text")), 2)).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      bg AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1])) AS gram FROM toks)
      SELECT gram, count(*) AS cnt FROM bg GROUP BY gram
      ORDER BY cnt DESC, gram LIMIT 20"""))

  /** Quality-banded importance resampling: band documents by quality score,
    * keep a deterministic hash-selected fraction per band (100%/50%/10%).
    * The quality sum is reported in integer 1e-4 units — round(avg, 4) can
    * land on an exact decimal half where the engines round differently. */
  val l21 = GQuery(
    "l21_quality_resample",
    (s, dir) => {
      val q = TextFunctions.qualityScore(col("text"), col("n_chars"), enStop)
      t(s, dir, "documents")
        .select(col("doc_id"), q.as("quality"))
        .withColumn("band",
          when(col("quality") >= 0.6, "high").when(col("quality") >= 0.4, "mid").otherwise("low"))
        .withColumn("keep_rate",
          when(col("band") === "high", 100).when(col("band") === "mid", 50).otherwise(10))
        .withColumn("kept", TextFunctions.hashBucket(col("doc_id"), 100) < col("keep_rate"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept"),
          round(sum(col("quality") * 10000)).cast("long").as("quality_sum_1e4"))
        .orderBy(col("band"))
    },
    Some(s"""WITH q AS (SELECT doc_id,
        (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END) * 0.4 +
        (CASE WHEN (n_chars::DOUBLE - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' '))
              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
        (len(list_filter(string_split(text, ' '), tk -> list_contains($enStopSql, tk)))::DOUBLE
         / len(string_split(text, ' '))) * 0.3 AS quality
      FROM documents),
      b AS (SELECT doc_id, quality,
        CASE WHEN quality >= 0.6 THEN 'high' WHEN quality >= 0.4 THEN 'mid' ELSE 'low' END AS band,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100 AS bucket
      FROM q)
      SELECT band, CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN bucket < (CASE band WHEN 'high' THEN 100 WHEN 'mid' THEN 50 ELSE 10 END)
                 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        CAST(round(sum(quality * 10000)) AS BIGINT) AS quality_sum_1e4
      FROM b GROUP BY band ORDER BY band"""))

  /** Context-length truncation: first 64 tokens per document, with
    * before/after counts and the truncated content's md5. */
  val l22 = GQuery(
    "l22_token_budget",
    (s, dir) => {
      val w = TextFunctions.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(w).cast("long").as("n_tokens"),
          least(size(w), lit(64)).cast("long").as("kept_tokens"),
          md5(concat_ws(" ", slice(w, 1, 64))).as("content_md5"))
        .orderBy(col("doc_id"))
        .limit(100)
    },
    Some("""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      CAST(least(len(w), 64) AS BIGINT) AS kept_tokens,
      md5(array_to_string(w[1:64], ' ')) AS content_md5
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      ORDER BY doc_id LIMIT 100"""))

  /** Near-containment pairs (asymmetric Jaccard over 3-gram shingles) via
    * the inverted-index join; the oracle computes the O(n²) set-intersect
    * form, so the hash match proves the index path exact. */
  val l24 = GQuery(
    "l24_containment",
    (s, dir) =>
      graft.operators.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 0.9)
        .select(col("a_id"), col("b_id"), round(col("containment"), 4).as("containment"))
        .orderBy(col("a_id"), col("b_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM w WHERE len(t) >= 3),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS cont
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
      SELECT a_id, b_id, round(cont, 4) AS containment FROM p
      WHERE cont >= 0.9 ORDER BY a_id, b_id"""))

  /** Rolling-hash document fingerprints (Karp–Rabin 5-gram polynomial +
    * winnowing w=4) — both engines run the identical mod-2³¹−1 arithmetic,
    * so the fingerprint SETS hash-match, not just their counts. */
  val l25 = GQuery(
    "l25_winnowing",
    (s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") < 50 && size(TextFunctions.tokens(col("text"))) >= 5)
        .select(col("doc_id"),
          TextFunctions.winnowedFingerprints(
            TextFunctions.rollingKgramHashes(col("text"), 5), 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("min_fp"), array_max(col("fp")).as("max_fp"))
        .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      bh AS (SELECT doc_id, list_transform(t,
          s -> ('0x' || substring(md5(s),1,8))::BIGINT) AS h, len(t) AS n FROM w),
      kh AS (SELECT doc_id,
          list_transform(generate_series(1, n - 4),
            i -> list_reduce(h[i : i+4], (a, b) -> (a * 1000003 + b) % 2147483647)) AS kg
        FROM bh WHERE n >= 5),
      wn AS (SELECT doc_id, CASE WHEN len(kg) >= 4
          THEN list_distinct(list_transform(generate_series(1, len(kg) - 3),
               j -> list_aggregate(kg[j : j+3], 'min')))
          ELSE [list_aggregate(kg, 'min')] END AS fp
        FROM kh)
      SELECT doc_id, len(fp) AS n_fp, list_aggregate(fp, 'min') AS min_fp,
        list_aggregate(fp, 'max') AS max_fp
      FROM wn WHERE doc_id < 50 ORDER BY doc_id"""))

  /** Containment-driven corpus cleaning: drop docs ≥0.9-contained in a
    * larger (or equal-size smaller-id) doc. Oracle replays the exact rule
    * over the O(n²) pair form. */
  val l24b = GQuery(
    "l24b_drop_contained",
    (s, dir) =>
      graft.operators.Dedup.dropContained(t(s, dir, "documents"), "doc_id", "text", 0.9)
        .agg(count(lit(1)).as("kept"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM w WHERE len(t) >= 3),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, len(a.s) AS na, len(b.s) AS nb,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS cont
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id),
      cond AS (SELECT DISTINCT a_id FROM p
        WHERE cont >= 0.9 AND (nb > na OR (nb = na AND b_id < a_id)))
      SELECT count(*) AS kept, min(doc_id) AS first_id, max(doc_id) AS last_id
      FROM documents WHERE doc_id NOT IN (SELECT a_id FROM cond)"""))

  /** SemDeDup (Abbas et al. 2023): within-cell embedding near-dup →
    * connected components → keep one representative per group. Cells here
    * are the `label` column so the oracle stays SQL-expressible (the
    * trained-k-means cell variant is parity-tested in DedupSpec); the
    * closure oracle is the same recursive CTE as l2_cluster_dedup. τ=0.42
    * sits ≥7e-3 from every within-cell cosine at sf0.01 (≥1e-4 at sf0.1),
    * so the edge set is float-stable. */
  val l27 = GQuery(
    "l27_semantic_dedup",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val comp = Dedup.connectedComponents(
        Dedup.semanticNearDupPairs(e, "vec_id", "embedding", "label", threshold = 0.42))
      val kept = Dedup.semanticDedup(e, "vec_id", "embedding", "label", threshold = 0.42)
        .agg(count(lit(1)).as("kept_vecs"))
      comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("dup_groups"),
          coalesce(sum(col("sz")), lit(0L)).cast("long").as("grouped_vecs"),
          coalesce(max(col("sz")), lit(0L)).cast("long").as("largest_group"))
        .crossJoin(kept)
    },
    Some("""WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a WHERE r.a <> e2.b),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      cl AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
      SELECT
        (SELECT count(*) FROM cl) AS dup_groups,
        (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) FROM cl) AS grouped_vecs,
        (SELECT CAST(coalesce(max(sz), 0) AS BIGINT) FROM cl) AS largest_group,
        (SELECT count(*) FROM embeddings) -
          (SELECT count(*) FROM comp WHERE id <> component) AS kept_vecs"""))

  /** ExactSubstr document dedup (Lee et al. 2021): docs sharing a ≥10-token
    * verbatim span cluster; min-id survives. Oracle = l16's span pairs fed
    * through the same recursive-closure CTE as the other cluster oracles. */
  val l29 = GQuery(
    "l29_exactsubstr_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val kept = graft.operators.Contamination.dropSharedSpanDocs(
        d, "doc_id", "text", n = 3, minSpanTokens = 10)
      kept.agg(count(lit(1)).as("kept_docs"),
        min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
    },
    Some("""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      pg AS (SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
             FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d WHERE len(w) >= 3)),
      m AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, a.pos - b.pos AS diag
            FROM pg a JOIN pg b ON a.g = b.g AND a.doc_id < b.doc_id),
      isl AS (SELECT id_a, id_b, diag, pos_a,
              pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
              FROM m),
      runs AS (SELECT id_a, id_b, count(*) + 2 AS span FROM isl GROUP BY id_a, id_b, diag, island),
      p AS (SELECT id_a, id_b FROM runs GROUP BY id_a, id_b HAVING max(span) >= 10),
      edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a WHERE r.a <> e2.b),
      comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT count(*) AS kept_docs, min(doc_id) AS first_id, max(doc_id) AS last_id
      FROM documents WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)"""))

  /** Web-extraction (C4/CCNet step 1): markup → clean text. The fixture
    * html is BUILT AROUND the known document text by an identical concat on
    * both engines, so the oracle states the expected extraction result
    * directly — 'Doc N Doc N <text> Tom & Jerry <3 "ok" 's end' — with no
    * regex on the oracle side: a truly independent check that tag
    * stripping, script/style/comment removal, entity decode, and
    * whitespace collapse recover exactly the authored content. (documents
    * text verified free of '<', '&', and runs of spaces at both SFs.) */
  val l28 = GQuery(
    "l28_html_extract",
    (s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style type=\"text/css\">body { margin: 0; }</style>"),
        lit("<script>if (a < b && c > d) { s = \"<div>\"; }</script>"),
        lit("</head><body><!-- nav --><h1 id=\"t\">Doc "), id, lit("</h1><p>"),
        col("text"),
        lit("</p><p>Tom &amp; Jerry &lt;3 &quot;ok&quot; &#39;s&nbsp;end</p></body></html>"))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), TextFunctions.extractHtmlText(html).as("clean_text"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text ||
      ' Tom & Jerry <3 "ok" ''s end' AS clean_text
      FROM documents WHERE doc_id < 50 ORDER BY doc_id"""))

  /** Real BPE tokenization (Sennrich 2016 / the GPT-2 greedy encoder)
    * with a fixed merge list. Oracle premise: when merge outputs are
    * fresh symbols, BPE's token count equals the char length after a
    * per-merge replace chain — both engines use the same left-to-right
    * non-overlapping semantics, so DuckDB's nested replace() recomputes
    * the REAL encoder's count without implementing BPE (equivalence
    * proven in BpeSpec). */
  val l30 = GQuery(
    "l30_bpe_tokens",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("doc_id") < 50 && col("text").isNotNull &&
          !col("text").contains("Ƶ") && !col("text").contains("Ʒ"))
      graft.functions.Bpe.withTokens(docs, "text", Seq(("e", "r"), ("er", "s")))
        .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(length(replace(replace(text, 'er', 'Ƶ'), 'Ƶs', 'Ʒ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE doc_id < 50 AND text IS NOT NULL
        AND instr(text, 'Ƶ') = 0 AND instr(text, 'Ʒ') = 0
      ORDER BY doc_id"""))

  /** L31 CHUNKING: overlapping sliding-window chunks (window 32 tokens,
    * stride 24 → 8 tokens of shared context between neighbors) — the
    * retrieval/pretraining document-splitting step. Chunk identity =
    * (doc_id, chunk_idx); content is hash-gated via md5 so the verify
    * artifact stays narrow while every token of every chunk is still
    * checked. Plan: narrow codegen'd projection + posexplode — no shuffle
    * until the final presentation sort. Oracle rebuilds the identical
    * slicing with generate_series + list_slice. */
  val l31 = GQuery(
    "l31_chunking",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
          posexplode(TextFunctions.slidingTokenChunks(col("text"), 32, 24))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx"),
          size(split(col("chunk_text"), " ")).as("n_toks"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      n AS (SELECT doc_id, w,
          GREATEST(CAST(ceil((len(w) - 32) / 24.0) AS INT), 0) AS max_i FROM t),
      e AS (SELECT doc_id, w, unnest(range(0, max_i + 1)) AS chunk_idx FROM n),
      c AS (SELECT doc_id, chunk_idx,
          array_to_string(list_slice(w, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ') AS chunk_text
        FROM e)
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_toks,
        md5(chunk_text) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** L32 CHUNK-LEVEL DEDUP: boilerplate detection at chunk granularity —
    * sliding chunks shared VERBATIM by more than one document (headers,
    * license blocks, templated spans) with doc counts and total
    * occurrences. The chunk-granular complement of line-level dedup
    * (l19): a chunk shared across documents is exactly the repeated-span
    * signal pretraining filters act on. Same no-shuffle chunking
    * projection as l31, then one hash aggregation on the chunk digest. */
  val l32 = GQuery(
    "l32_chunk_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
          posexplode(TextFunctions.slidingTokenChunks(col("text"), 32, 24))
            .as(Seq("chunk_idx", "chunk_text")))
        .groupBy(md5(col("chunk_text")).as("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .where(col("n_docs") > 1)
        .orderBy(col("chunk_md5"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      n AS (SELECT doc_id, w,
          GREATEST(CAST(ceil((len(w) - 32) / 24.0) AS INT), 0) AS max_i FROM t),
      e AS (SELECT doc_id, w, unnest(range(0, max_i + 1)) AS chunk_idx FROM n),
      c AS (SELECT doc_id,
          md5(array_to_string(list_slice(w, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ')) AS chunk_md5
        FROM e)
      SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs,
        count(*) AS n_occurrences
      FROM c GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1
      ORDER BY chunk_md5"""))

  /** L34 BM25 RETRIEVAL: Okapi BM25 top-20 for a fixed 3-term query over
    * the documents corpus — the lexical leg of RAG retrieval / targeted
    * training-data selection. Plan shape ([[graft.operators.Retrieval]]):
    * one codegen'd projection for per-term tfs, one broadcast stats row,
    * one TakeOrdered — no shuffle touches document text at any corpus
    * size. Oracle derives the identical Lucene-form scores; arithmetic is
    * written in the same association order on both sides so the 6-dp
    * rounded scores hash-match. */
  val l34 = GQuery(
    "l34_bm25_topk",
    (s, dir) =>
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text", bm25Terms,
          k = 20, k1 = 1.2, b = 0.75)
        .select(col("doc_id"), col("rank"), round(col("score"), 6).as("score"))
        .orderBy(col("rank")),
    Some {
      val tfCols = bm25Terms.indices.map(i =>
        s"""CAST(len(list_filter(string_split(text, ' '), x -> x = '${bm25Terms(i)}')) AS DOUBLE) AS tf_$i""")
        .mkString(",\n    ")
      val dfCols = bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i").mkString(",\n    ")
      val contribs = bm25Terms.indices.map(i =>
        s"ln(1.0 + (n - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * (1.2 + 1.0)) / (tf_$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))")
        .mkString(" +\n    ")
      s"""WITH pt AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        $tfCols
      FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        $dfCols
      FROM pt),
      sc AS (SELECT doc_id,
        $contribs AS score
      FROM pt CROSS JOIN st WHERE score > 0),
      rk AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank, score FROM sc)
      SELECT doc_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
      FROM rk WHERE rank <= 20 ORDER BY rank"""
    })

  /** L35 HYBRID RETRIEVAL (RRF): reciprocal-rank fusion of the BM25
    * lexical ranking (l34's construction, top-50) with a cosine vector
    * ranking against embedding 0 (l3's construction, top-50), joined on
    * the fixtures' aligned doc_id/vec_id space. RRF is rank-only
    * (`Σ 1/(60+rank)`) — the standard way to mix systems whose raw scores
    * are incomparable. Fusion shuffles only the 100 (id, rank) rows. */
  val l35 = GQuery(
    "l35_hybrid_rrf",
    (s, dir) => {
      val bm = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        bm25Terms, k = 50, k1 = 1.2, b = 0.75)
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.exactTopK(emb, emb.where(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("nn_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm.select(col("doc_id"), col("rank")), vec),
          "doc_id", "rank", k = 10, k0 = 60)
        .select(col("doc_id"), col("rank"), round(col("rrf"), 6).as("rrf"), col("lists"))
        .orderBy(col("rank"))
    },
    Some {
      val tfCols = bm25Terms.indices.map(i =>
        s"""CAST(len(list_filter(string_split(text, ' '), x -> x = '${bm25Terms(i)}')) AS DOUBLE) AS tf_$i""")
        .mkString(",\n    ")
      val dfCols = bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i").mkString(",\n    ")
      val contribs = bm25Terms.indices.map(i =>
        s"ln(1.0 + (n - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * (1.2 + 1.0)) / (tf_$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))")
        .mkString(" +\n    ")
      s"""WITH pt AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        $tfCols
      FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        $dfCols
      FROM pt),
      sc AS (SELECT doc_id,
        $contribs AS score
      FROM pt CROSS JOIN st WHERE score > 0),
      bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc
             QUALIFY rank <= 50),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      nrm AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      pairs AS (SELECT c.vec_id AS doc_id,
          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM nrm q JOIN nrm c ON q.vec_id <> c.vec_id WHERE q.vec_id = 0),
      vr AS (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank FROM pairs
             QUALIFY rank <= 50),
      contrib AS (SELECT doc_id, 1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM bm
                  UNION ALL SELECT doc_id, 1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM vr),
      fused AS (SELECT doc_id, sum(c) AS rrf, count(*) AS lists FROM contrib GROUP BY doc_id),
      rk AS (SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank, rrf, lists FROM fused)
      SELECT doc_id, CAST(rank AS INT) AS rank, round(rrf, 6) AS rrf, lists
      FROM rk WHERE rank <= 10 ORDER BY rank"""
    })

  /** L40 IN-ENGINE CLASSIFIER TRAINING: distill an expensive labeling
    * pass (here the l6-style quality heuristic) into a LINEAR filter the
    * engine can then apply to the full corpus at scan speed — fixed-point
    * full-batch gradient descent with a hard-sigmoid link
    * ([[graft.operators.LinearModel]]), 5 steps from zero weights over
    * (bias, capped token count, stopword ratio, capped avg word length).
    * Every step is one map-side-combined integer aggregation; weights are
    * O(features) driver state — the classic distributed GD layout, and
    * the integer arithmetic makes training BIT-IDENTICAL across
    * partitionings and engines, so the oracle replays the whole schedule
    * as 5 unrolled CTE iterations (the t55 fixed-point convention applied
    * to model training). Output: learned micro-unit weights + the
    * confusion counts of the trained filter against its teacher labels. */
  val l40 = GQuery(
    "l40_quality_classifier",
    (s, dir) => {
      import graft.operators.LinearModel
      val stopArr = array(enStop.map(lit): _*)
      val base = t(s, dir, "documents")
        .withColumn("nt", size(split(col("text"), " ")).cast("long"))
        .withColumn("ns",
          size(filter(split(col("text"), " "), tk => array_contains(stopArr, tk))).cast("long"))
        .withColumn("awl", col("n_chars").cast("long") - (col("nt") - 1L))
      val feats = base
        .withColumn("x0", lit(1000000L))
        .withColumn("x1", least(lit(1000000L), col("nt") * 500L))
        .withColumn("x2", expr("ns * 1000000L div nt"))
        .withColumn("x3", least(lit(1000000L), expr("awl * 1000000L div (nt * 12L)")))
        .withColumn("y", when(
          (when(col("nt").between(20L, 2000L), lit(400000L)).otherwise(lit(0L)) +
            when(col("awl").between(col("nt") * 2L, col("nt") * 12L), lit(300000L))
              .otherwise(lit(0L)) +
            expr("ns * 300000L div nt")) >= 400000L, lit(1000000L)).otherwise(lit(0L)))
        .localCheckpoint() // features consumed 5× by training + once by eval
      val xs = Seq("x0", "x1", "x2", "x3").map(col)
      val w = LinearModel.trainLogistic(feats, xs, col("y"), iterations = 5)
      val p = LinearModel.hardSigmoidMicro(LinearModel.scoreMicro(w, xs))
      val pred = (p >= 500000L).cast("long")
      val label = (col("y") === 1000000L).cast("long")
      feats.agg(
        count(lit(1)).as("n"),
        sum(label).as("label_pos"),
        sum(pred).as("pred_pos"),
        sum(when(pred === label, 1L).otherwise(0L)).as("agree"))
        .select(Seq("w_bias", "w_len", "w_stop", "w_wlen").zip(w)
          .map { case (nm, v) => lit(v).as(nm) } ++
          Seq(col("n"), col("label_pos"), col("pred_pos"), col("agree")): _*)
    },
    Some {
      val steps = (1 to 5).map { k =>
        s"""p$k AS (SELECT x0, x1, x2, x3, y,
            GREATEST(0, LEAST(1000000, 500000 +
              ((w0*x0 + w1*x1 + w2*x2 + w3*x3) // 1000000) // 4)) AS p
          FROM x CROSS JOIN i${k - 1}),
        g$k AS (SELECT sum((y - p) * x0 // 1000000) AS g0,
            sum((y - p) * x1 // 1000000) AS g1,
            sum((y - p) * x2 // 1000000) AS g2,
            sum((y - p) * x3 // 1000000) AS g3, count(*) AS n
          FROM p$k),
        i$k AS (SELECT w0 + g0 // n AS w0, w1 + g1 // n AS w1,
            w2 + g2 // n AS w2, w3 + g3 // n AS w3
          FROM i${k - 1} CROSS JOIN g$k)"""
      }.mkString(",\n        ")
      s"""WITH f AS (SELECT
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
          CAST(len(list_filter(string_split(text, ' '),
            tk -> list_contains($enStopSql, tk))) AS BIGINT) AS ns,
          CAST(n_chars AS BIGINT) - (CAST(len(string_split(text, ' ')) AS BIGINT) - 1) AS awl
        FROM documents),
        x AS (SELECT CAST(1000000 AS BIGINT) AS x0,
          LEAST(1000000, nt * 500) AS x1,
          ns * 1000000 // nt AS x2,
          LEAST(1000000, awl * 1000000 // (nt * 12)) AS x3,
          CASE WHEN (CASE WHEN nt BETWEEN 20 AND 2000 THEN 400000 ELSE 0 END
              + CASE WHEN awl BETWEEN 2 * nt AND 12 * nt THEN 300000 ELSE 0 END
              + ns * 300000 // nt) >= 400000 THEN 1000000 ELSE 0 END AS y
        FROM f),
        i0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
          CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        $steps,
        ev AS (SELECT x.*, GREATEST(0, LEAST(1000000, 500000 +
            ((w0*x0 + w1*x1 + w2*x2 + w3*x3) // 1000000) // 4)) AS p
          FROM x CROSS JOIN i5)
      SELECT CAST(i5.w0 AS BIGINT) AS w_bias, CAST(i5.w1 AS BIGINT) AS w_len,
        CAST(i5.w2 AS BIGINT) AS w_stop, CAST(i5.w3 AS BIGINT) AS w_wlen,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS label_pos,
        CAST(sum(CASE WHEN p >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos,
        CAST(sum(CASE WHEN (p >= 500000) = (y = 1000000) THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM ev CROSS JOIN i5 GROUP BY i5.w0, i5.w1, i5.w2, i5.w3"""
    })

  /** L43 PERSISTED VECTOR INDEX, exhaustive probe: build the on-disk
    * cell-partitioned IVF layout ([[VectorIndex]]), then query it with
    * nProbe = nCells — exhaustive probing must reproduce brute-force
    * top-k EXACTLY, so this hash-matches the same oracle as
    * `l3_ann_brute_topk`: a wrong assignment, a dropped cell dir, or a
    * vector lost in the clustered write all surface as a hash mismatch.
    * The pruning/recall half is the l43_vector_index_recall twin. */
  val l43 = GQuery(
    "l43_vector_index_exhaustive",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_vidx_q").toString + "/idx"
      VectorIndex.build(emb, "vec_id", "embedding", idx, nCells = 8, iters = 3)
      VectorIndex.query(s, idx, emb.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    l3.oracle) // identical semantics → identical oracle as l3_ann_brute_topk

  /** L43 recall twin: nProbe = 2 of 16 cells reads ~1/8 of the corpus
    * per query (directory-level pruning, proven physically in
    * VectorIndexSpec) — the gate asserts the recall that partial probing
    * must still clear. */
  val l43recall = GQuery(
    "l43_vector_index_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_vidx_r").toString + "/idx"
      VectorIndex.build(emb, "vec_id", "embedding", idx, nCells = 16, iters = 5)
      Similarity.recallGate(
        VectorIndex.query(s, idx, emb, "vec_id", "embedding", k = 3, nProbe = 2),
        brute3(s, dir), minRecall = 0.25)
    },
    Some(annRecallOracle("")))

  /** L43 INDEX LIFECYCLE: the delete/re-ingest half of the persisted
    * index — build Delta-backed, [[VectorIndex.removeWhere]] a corpus
    * slice (one atomic DV-delete commit), [[VectorIndex.upsert]] a batch
    * of ALREADY-INDEXED ids (idempotent re-ingest — [[VectorIndex.add]]
    * would duplicate them), then probe exhaustively. The result must
    * hash-match brute-force top-k over exactly the surviving corpus: a
    * removed vector surfacing as a neighbor, or a duplicated upsert id
    * (same nn twice at two ranks), each break the hash. */
  val l43lifecycle = GQuery(
    "l43_vector_index_lifecycle",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_vidx_l").toString + "/idx"
      VectorIndex.build(emb, "vec_id", "embedding", idx, nCells = 8, iters = 3,
        format = "delta")
      VectorIndex.removeWhere(s, idx, col("vec_id") >= 300L)
      VectorIndex.upsert(s, idx, emb.where(col("vec_id") < 10), "vec_id", "embedding")
      VectorIndex.query(s, idx, emb.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id < 300),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      pairs AS (SELECT q.vec_id, c.vec_id AS nn_id,
          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
      ranked AS (SELECT vec_id, nn_id, cosine,
          row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rank
        FROM pairs)
      SELECT vec_id, rank, nn_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY vec_id, rank"""))

  /** L43 PQ TIER: the persisted index's compressed probe path — built
    * ICEBERG-backed (so the correctness gate covers the second lake
    * format end-to-end: list-typed vector and codes columns through the
    * iceberg writer, manifest-level probe pruning) with PQ codes
    * persisted beside every vector. [[VectorIndex.queryPq]] ADC-scores a
    * CODES-ONLY scan of the probed cells (the float vectors' column
    * chunks never leave disk — the ~(d·8)/(m·4) probe-IO cut) and exactly
    * re-ranks the shortlist from full vectors by id pushdown.
    * Approximate by design → the oracled claim is the recall gate,
    * thresholded under the in-memory PQ tier's measured floor. */
  val l43pqRecall = GQuery(
    "l43_vector_index_pq_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_vidx_pq").toString + "/idx"
      VectorIndex.build(emb, "vec_id", "embedding", idx, nCells = 8, iters = 3,
        format = "iceberg", pqM = 8, pqCodes = 16)
      Similarity.recallGate(
        VectorIndex.queryPq(s, idx, emb.where(col("vec_id") < 100), "vec_id",
          "embedding", k = 3, nProbe = 4, shortlist = 30),
        brute3(s, dir, maxQ = Some(100L)), minRecall = 0.4)
    },
    Some(annRecallOracle("WHERE q.vec_id < 100")))

  /** L43 INDEX-CORPUS SYNC: the pipeline verb tying the index to its
    * source-of-truth table — embeddings land in a Delta corpus, the index
    * builds from snapshot v0, the corpus then mutates (slice deleted, a
    * batch RE-EMBEDDED via upsert — element-wise +1.0, which SHIFTS
    * cosine geometry, unlike a scale factor), and ONE
    * [[VectorIndex.syncFromChanges]] folds the change feed in: deletes
    * out, updates replaced, cost tracking the feed. The exhaustive probe
    * must hash-match brute force over the corpus's CURRENT state — a
    * stale vector, surviving deleted id, or duplicated update each break
    * the hash. */
  val l43sync = GQuery(
    "l43_vector_index_sync",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corp = java.nio.file.Files.createTempDirectory("graft_vidx_sc").toString + "/corpus"
      val v0 = graft.sources.DeltaWrite.append(s, emb, corp)
      val idx = java.nio.file.Files.createTempDirectory("graft_vidx_s").toString + "/idx"
      VectorIndex.build(graft.sources.DeltaRead.snapshot(s, corp),
        "vec_id", "embedding", idx, nCells = 8, iters = 3, format = "delta")
      graft.sources.DeltaWrite.deleteWhere(s, corp, col("vec_id") >= 300L)
      graft.sources.DeltaWrite.upsert(s,
        emb.where(col("vec_id") < 10)
          .select(col("vec_id"), transform(col("embedding"), x => x + 1.0f).as("embedding"),
            col("label")),
        corp, Seq("vec_id"))
      VectorIndex.syncFromChanges(s, idx, corp, "vec_id", "embedding", v0)
      val cur = graft.sources.DeltaRead.snapshot(s, corp)
      VectorIndex.query(s, idx, cur.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id,
        CASE WHEN vec_id < 10
          -- the +1 happens in FLOAT32 exactly like the engine side (both
          -- widen to double only afterwards) — double-side addition would
          -- differ in the low bits and can flip near-tie ranks
          THEN (list_transform(embedding, x -> x + CAST(1.0 AS FLOAT)))::DOUBLE[]
          ELSE embedding::DOUBLE[] END AS v
      FROM embeddings WHERE vec_id < 300),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      pairs AS (SELECT q.vec_id, c.vec_id AS nn_id,
          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
      ranked AS (SELECT vec_id, nn_id, cosine,
          row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rank
        FROM pairs)
      SELECT vec_id, rank, nn_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY vec_id, rank"""))

  /** L42 COMPRESSION-RATIO QUALITY GATE: the deflate-ratio signal
    * ([[TextFunctions.compressionRatio]]) over every ≥400-char document —
    * the CCNet/Gopher-style "too compressible = boilerplate, too
    * incompressible = junk" filter. The raw ratios are JRE-zlib-specific
    * (no DuckDB analog), so the oracled claims are the signal's invariant
    * PROPERTIES, computed in-query over the real corpus: (1) each doc's
    * own first 400 chars compress strictly worse on average than a
    * same-length degenerate repetition of its first 10 chars (separation
    * ≥ 0.05 — the discriminative power that makes the filter work), and
    * (2) every ratio is a sane (0, 2] value. One scan, two deflates per
    * row, map-side-combined aggregate — nothing shuffles but 1 row. */
  val l42 = GQuery(
    "l42_compression_quality_check",
    (s, dir) => {
      val base = t(s, dir, "documents").where(length(col("text")) >= 400)
      val rText = TextFunctions.compressionRatio(substring(col("text"), 1, 400))
      val rRep = TextFunctions.compressionRatio(
        repeat(substring(col("text"), 1, 10), 40))
      base.select(rText.as("rt"), rRep.as("rr"))
        .agg(count(lit(1)).as("n_docs"),
          (avg(col("rr")) + lit(0.05) < avg(col("rt"))).as("repetitive_lower"),
          (min(col("rt")) > 0.0 && max(col("rt")) <= 2.0 &&
            min(col("rr")) > 0.0 && max(col("rr")) <= 2.0).as("ratios_bounded"))
    },
    Some("""SELECT count(*) AS n_docs, TRUE AS repetitive_lower,
        TRUE AS ratios_bounded
      FROM documents WHERE length(text) >= 400"""))

  def all: Seq[GQuery] = Seq(l1, l2, l2brute, l2simhash, l2simhashPairs, l2cluster, l2quality,
    l2embedding, l3, l3scalable, l3lsh, l3ivf, l3kmeans, l3pq, l3sq,
    l3lshRecall, l3ivfRecall, l3kmeansRecall, l3pqRecall, l3sqRecall, l26, l27, l28, l29, l30,
    l31, l32, l34, l35,
    l4langid, l5, l6, l7, l8, l9,
    l10, l11, l11b, l12, l33, l36, l37, l38, l39, l40, l41, l13, l14, l15, l16, l17, l18, l19, l20,
    l21, l22, l24, l24b, l25, l42, l43, l43recall, l43lifecycle, l43pqRecall, l43sync)
}
