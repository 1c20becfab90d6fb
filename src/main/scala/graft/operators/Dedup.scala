package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorOps}

/** Deduplication operators for training-data pipelines (SURVEY.md §2.10).
  *
  * Scale design (100 TB): every path below is a groupBy/join on a hash-
  * derived key — shuffle-partitioned, spill-safe, no driver-side state.
  * The MinHash path is the sub-quadratic alternative to the O(n²)
  * brute-force pair join: candidate generation touches only documents that
  * share an LSH band bucket.
  */
object Dedup {

  /** See [[graft.Spread.ifNarrow]] — expensive projections (the interpreted
    * shingle HOF costs ~2 ms/doc) must not execute inside a one-task scan. */
  private[operators] def spreadIfNarrow(df: DataFrame): DataFrame =
    graft.Spread.ifNarrow(df)

  /** Exact dedup: one representative row per distinct `textCol` content
    * (hash-groupBy; at 100 TB use the md5 variant below to dedupe on a
    * 16-byte key instead of shuffling full documents). */
  def dropExactDuplicates(df: DataFrame, textCol: String): DataFrame =
    df.dropDuplicates(textCol)

  /** Exact-dup statistics on the content hash. */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_docs"),
      countDistinct(md5(col(textCol))).as("distinct_docs"))

  /** C4-style line-level dedup: every line whose exact content occurs at
    * least `minOccurrences` times corpus-wide is removed (ALL copies — the
    * C4 rule for boilerplate: navigation chrome, license headers, cookie
    * banners), and each document is reassembled from its surviving lines
    * in original order. Documents losing every line survive with empty
    * text, keeping the output exhaustive over input ids.
    *
    * `linesCol` supplies the line split (array<string>) so the caller picks
    * the unit: `split(text, "\n")` for real lines,
    * [[graft.functions.TextFunctions.tokenChunks]] for corpora without
    * line structure.
    *
    * Scale: two shuffles — a count groupBy on the line content and the
    * anti join back, both partitioned by line. The exploded lines frame is
    * checkpointed once so the count and the probe don't re-run the split
    * (self-join recompute). At 100 TB, shuffling full line text twice is
    * the cost driver; `keyByHash` keys both sides by xxhash64(line)
    * instead — 8-byte shuffle rows, ~2^-40 corpus-level collision odds at
    * a billion distinct lines (a collision wrongly drops one unique line —
    * acceptable for boilerplate removal, not for an exactness-checked
    * oracle, hence exact text keys by default; the two paths are
    * parity-tested). */
  def dropDuplicateLines(df: DataFrame, idCol: String, linesCol: Column,
      minOccurrences: Int = 2, sep: String = " ", keyByHash: Boolean = false): DataFrame = {
    // Spread BEFORE evaluating linesCol: the split/chunk HOF is interpreted
    // and must run above the exchange, not inside a one-task scan (same
    // pattern as shinglesOf). Null line elements are dropped up front —
    // they'd otherwise diverge between the paths (null equi-join keys never
    // match the anti join; xxhash64(null) does) and desync kept_lines from
    // the reassembled text (concat_ws skips nulls).
    val exploded = spreadIfNarrow(df)
      .select(col(idCol), linesCol.as("__lines"))
      .select(col(idCol), posexplode(col("__lines")).as(Seq("__pos", "__line")))
      .where(col("__line").isNotNull)
    val keyName = if (keyByHash) "__k" else "__line"
    val lines = (if (keyByHash) exploded.withColumn("__k", xxhash64(col("__line"))) else exploded)
      .localCheckpoint()
    val dup = lines.groupBy(col(keyName)).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minOccurrences)
      .select(col(keyName))
    val re = lines.join(dup, Seq(keyName), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_lines"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line"))).as("text"))
    df.select(col(idCol)).join(re, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** (id, __sh) shingle sets. The raw docs are spread first (the shingle
    * HOF then evaluates at full parallelism, not inside the one-task scan). */
  private def shinglesOf(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    spreadIfNarrow(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.shingles(col(textCol), shingleN).as("__sh"))

  /** Band table derived from a shingle table — signature as ONE codegen'd
    * expression per row (the declarative explode + numHashes-buffer min
    * aggregate exceeds the codegen field limit and fell back to interpreted
    * aggregation, ~25× slower, and its groupBy was a full shuffle of
    * exploded shingles besides). */
  private def bandsOfShingles(sh: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame =
    lshBands(
      sh.where(size(col("__sh")) > 0)
        .select(col(idCol),
          graft.functions.TextExpressions.minhashSig(col("__sh"), numHashes).as("minhash")),
      idCol, rowsPerBand, numHashes / rowsPerBand)

  /** One corpus signed once: the (tiny) band table plus the shingle sets it
    * was derived from, both materialized so candidate generation, exact-
    * Jaccard verification, and any within-batch reuse share a single
    * shingle pass (the dominant cost — the interpreted HOF is ~2 ms/doc). */
  private case class Signed(bands: DataFrame, shingles: DataFrame, idCol: String)

  private def sign(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int): Signed = {
    val sh = shinglesOf(df, idCol, textCol, shingleN).localCheckpoint()
    Signed(bandsOfShingles(sh, idCol, numHashes, rowsPerBand).localCheckpoint(), sh, idCol)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs. */
  private def verifyPairs(cand: DataFrame, shA: DataFrame, shB: DataFrame, threshold: Double): DataFrame =
    cand.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"), TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Self-join near-dup pairs (a < b) over one signed corpus. */
  private def selfPairs(s: Signed, threshold: Double): DataFrame = {
    val cand = s.bands.select(col(s.idCol).as("id_a"), col("band"), col("band_hash"))
      .join(s.bands.select(col(s.idCol).as("id_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyPairs(cand,
      s.shingles.select(col(s.idCol).as("id_a"), col("__sh").as("sh_a")),
      s.shingles.select(col(s.idCol).as("id_b"), col("__sh").as("sh_b")),
      threshold)
  }

  /** MinHash signature: `numHashes` permutations simulated by seeded
    * xxhash64 over distinct n-gram shingles (deterministic across runs). */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128): DataFrame =
    shinglesOf(df, idCol, textCol, shingleN)
      .where(size(col("__sh")) > 0)
      .select(col(idCol),
        graft.functions.TextExpressions.minhashSig(col("__sh"), numHashes).as("minhash"))

  /** LSH banding: emit (id, band index, band hash) — docs sharing any band
    * bucket are candidate pairs. bands*rowsPerBand must equal the signature
    * length. With rowsPerBand=2, bands=64 a Jaccard-0.8 pair is missed with
    * probability (1-0.8²)^64 ≈ 5e-14 — effectively total recall. */
  def lshBands(sig: DataFrame, idCol: String, rowsPerBand: Int, bands: Int): DataFrame =
    sig.select(
      col(idCol),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          j => {
            val parts = (0 until rowsPerBand).map(r => element_at(col("minhash"), j * rowsPerBand + r + 1))
            xxhash64(parts :+ (j: Column): _*)
          })))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** Candidate pairs (a < b) from shared LSH buckets, then exact-Jaccard
    * verified against `threshold`. Returns (id_a, id_b, jaccard). */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3,
      numHashes: Int = 128,
      rowsPerBand: Int = 2): DataFrame =
    // sign() materializes shingles once and the band table once: the
    // self-join's two branches would otherwise RECOMPUTE the signature
    // pipeline (measured 2× the dominant cost), and verification would
    // re-shingle a third time.
    selfPairs(sign(df, idCol, textCol, shingleN, numHashes, rowsPerBand), threshold)

  /** Brute-force n-gram Jaccard pairs ≥ threshold (the oracle-shaped O(n²)
    * path, superseded by MinHash above). The theta join is a broadcast
    * nested loop; the streamed side is spread to full parallelism first —
    * a single-row-group input file would otherwise pin the WHOLE O(n²)
    * loop to one task (measured: 1 core busy, 31 idle). At real scale,
    * block-partition both sides instead of broadcasting one. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, threshold: Double, shingleN: Int = 3): DataFrame = {
    // spread BEFORE the shingle projection (parallel HOF eval), checkpoint
    // so the self-join's two branches don't recompute it
    val sh = spreadIfNarrow(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.shingles(col(textCol), shingleN).as("__sh"))
      .localCheckpoint()
    val a = sh.select(col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Near-containment pairs: containment(a → b) = |shingles(a) ∩
    * shingles(b)| / |shingles(a)| ≥ threshold. Asymmetric by design — it
    * catches quotation/subset duplication that symmetric Jaccard dilutes
    * (a short doc fully quoted inside a long one scores ~1.0 here but low
    * Jaccard). Both directions are emitted.
    *
    * Scale path: an inverted-index gram equi-join (shared-gram counts per
    * pair), never the O(n²) set-intersect loop — same shape as
    * [[Contamination.report]]. Shingle arrays are distinct per doc, so the
    * pair count IS the intersection size. `maxGramDocFreq` (off by
    * default) drops grams appearing in more than that many docs before
    * the join — the stop-phrase fan-out cap; with it set, pairs whose
    * overlap is entirely ubiquitous grams are missed (document the recall
    * trade like the contamination cap). Docs with no shingles (< n
    * tokens) are excluded: their containment is undefined. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      maxGramDocFreq: Option[Int] = None): DataFrame =
    containmentOfShingles(
      shinglesOf(df, idCol, textCol, shingleN).where(size(col("__sh")) > 0).localCheckpoint(),
      idCol, threshold, maxGramDocFreq)

  /** [[containmentPairs]] over an already-materialized shingle frame
    * (`idCol`, `__sh`) — shared with [[dropContained]] so the interpreted
    * shingle projection (the dominant cost) runs exactly once. */
  private def containmentOfShingles(sh: DataFrame, idCol: String,
      threshold: Double, maxGramDocFreq: Option[Int]): DataFrame = {
    val sizes = sh.select(col(idCol).as("a_id"), size(col("__sh")).as("__a_size"))
    val ex = sh.select(col(idCol), explode(col("__sh")).as("__g"))
    val grams = maxGramDocFreq match {
      case None => ex
      case Some(cap) =>
        val hot = ex.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select(col("__g"))
        ex.join(broadcast(hot), Seq("__g"), "left_anti")
    }
    val shared = grams.select(col(idCol).as("a_id"), col("__g"))
      .join(grams.select(col(idCol).as("b_id"), col("__g")), "__g")
      .where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("__shared"))
    shared.join(sizes, "a_id")
      .select(col("a_id"), col("b_id"),
        (col("__shared").cast("double") / col("__a_size")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Drop documents near-contained in a bigger (or equal-size, smaller-id)
    * document — the corpus-cleaning form of [[containmentPairs]]: quotes,
    * excerpts, and re-posts vanish while their hosts survive. A document is
    * dropped when ANY such container exists, dropped containers included —
    * in an A ⊂ B ⊂ C chain, A's edge to B already condemns A whatever
    * happens to B, so the maximal element always survives and the rule
    * needs no iteration (one pair join + one anti join). Equal-size mutual
    * containment (shingle-identical docs) keeps the min id. */
  def dropContained(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    // one shingle pass feeds the pair join AND both size joins
    val sh = shinglesOf(df, idCol, textCol, shingleN)
      .where(size(col("__sh")) > 0).localCheckpoint()
    val sizes = sh.select(col(idCol), size(col("__sh")).as("__n"))
    val pairs = containmentOfShingles(sh, idCol, threshold, maxGramDocFreq = None)
      .join(sizes.select(col(idCol).as("a_id"), col("__n").as("__na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("__n").as("__nb")), "b_id")
    val condemned = pairs
      .where(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") && col("b_id") < col("a_id")))
      .select(col("a_id").as(idCol)).distinct()
    df.join(condemned, Seq(idCol), "left_anti")
  }

  /** 48-bit SimHash over tokens (with multiplicity), built from md5 hex
    * digits so the DuckDB oracle can reproduce it bit-for-bit (no common
    * 64-bit hash exists across the engines; 48 bits stay exact in doubles).
    *
    * bit j of token t = bit (3 - j%4) of hex digit j/4 of md5(t);
    * simhash bit j = 1 iff Σ_tokens (2·bit−1) > 0.
    */
  def simhash48(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .withColumn("__h", md5(col("__t")))
    val bits = toks.select(
      col(idCol), col("__h"),
      explode(sequence(lit(0), lit(47))).as("j"))
    val hexVal = expr("instr('0123456789abcdef', substring(__h, CAST(j / 4 AS INT) + 1, 1)) - 1")
    val bit = floor(hexVal / pow(lit(2.0), lit(3) - pmod(col("j"), lit(4)))).cast("long") % 2
    bits
      .withColumn("__vote", bit * 2 - 1)
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("__vote")).as("__v"))
      .withColumn("__bit", when(col("__v") > 0, 1.0).otherwise(0.0))
      .groupBy(col(idCol))
      .agg(sum(col("__bit") * pow(lit(2.0), col("j"))).cast("long").as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming on the 48-bit
    * fingerprint — brute-force O(n²) pair join (the oracle shape; see
    * [[simhashNearDupPairsBanded]] for the scale path). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    val sh = simhash48(df, idCol, textCol)
    val p = df.sparkSession.sparkContext.defaultParallelism
    val a = sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a")).repartition(p)
    val b = sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Sub-quadratic SimHash near-dup: split the 48-bit fingerprint into
    * maxHamming+1 chunks — by pigeonhole, any pair within the hamming bound
    * has at least one chunk bit-identical — equi-join on (chunk index,
    * chunk value) to generate candidates, then verify exact hamming.
    * EXACTLY equal to the brute-force join (total recall, it is a
    * pigeonhole guarantee, not a probabilistic one), but the join is equi
    * on a 1-in-2^chunkBits key instead of an O(n²) theta join. */
  def simhashNearDupPairsBanded(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 48 / nChunks
    val sh = simhash48(df, idCol, textCol)
    val chunks = sh.select(
      col(idCol), col("simhash"),
      // chunk c = bits [c*chunkBits, (c+1)*chunkBits); 48-bit values are
      // exact in doubles, so pow/floor arithmetic is lossless here
      posexplode(transform(sequence(lit(0), lit(nChunks - 1)), c =>
        pmod(floor(col("simhash") / pow(lit(2.0), c * chunkBits)).cast("long"),
          lit(1L << chunkBits)))))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val a = chunks.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("chunk"), col("chunk_val"))
    val b = chunks.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected edge list, by alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds
    * independent of graph diameter, each round a pair of shuffles. This is
    * the 100 TB path: plain min-label propagation needs diameter-many
    * rounds, and a duplicate *chain* (a~b~c~…) can make the diameter grow
    * with the corpus.
    *
    * Rounds (over the symmetrized neighborhood N(u), m = min(N(u) ∪ u)):
    *   large-star: emit (v, m) for every neighbor v > u
    *   small-star: emit (v, m) for every neighbor v ≤ u, plus (u, m)
    * The fixpoint is a depth-1 forest: every node linked to its component's
    * minimum. Returns (`id`, `component`) — one row per node that appears
    * in an edge; component = smallest node id in the component.
    *
    * Each round materializes via `localCheckpoint` — lineage would otherwise
    * double per iteration; on a cluster use `checkpoint` to survive executor
    * loss during long chains.
    */
  def connectedComponents(
      edges: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient each edge larger→smaller, so every neighbor here is ≤ u
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    var cur = edges.select(col(idA).as("u"), col(idB).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var curCnt = cur.count()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      val nextCnt = next.count()
      // fixpoint test: equal multisets (both are distinct sets, so equal
      // counts + empty difference suffices; one extra job per round)
      converged = nextCnt == curCnt && next.except(cur).isEmpty
      cur = next
      curCnt = nextCnt
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // depth-1 forest: children point at the root; add the roots themselves
    cur.select(col("u").as("id"), col("v").as("component"))
      .union(cur.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Near-duplicate clusters of `df` at the given Jaccard threshold:
    * MinHash-LSH candidate pairs → exact-Jaccard filter → connected
    * components. Returns (id, component) for every document in a cluster
    * of size ≥ 2 (singletons are implicitly their own component). */
  def nearDupComponents(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame =
    connectedComponents(minhashNearDupPairs(df, idCol, textCol, threshold))

  /** The end-to-end near-dedup: keep one canonical document per cluster
    * (the smallest id — deterministic) plus all unclustered documents.
    * This is `dropDuplicates` semantics lifted from exact to fuzzy. */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    val comp = nearDupComponents(df, idCol, textCol, threshold)
    val losers = comp.where(col("id") =!= col("component")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Near-dedup keeping a CHOSEN representative per cluster: `canonicalBy`
    * ranks members (highest wins, ties broken toward the lower id) — the
    * production selection rule, where pipelines keep the longest or
    * highest-quality copy rather than the arbitrary min-id one. Singletons
    * (docs in no cluster) always survive. Requires a numeric id (for the
    * tie-break), like the component machinery underneath. */
  def dropNearDuplicatesBy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      canonicalBy: Column): DataFrame = {
    val comp = nearDupComponents(df, idCol, textCol, threshold)
    val ranked = df.select(col(idCol).as("__mid"), canonicalBy.as("__rank"))
    val winners = comp.join(ranked, col("id") === col("__mid"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("__rank"), -col("id"))).as("__keep"))
      .select(col("__keep"))
    val losers = comp.join(winners, col("id") === col("__keep"), "left_anti").select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Near-dup pairs ACROSS two corpora (one row per (left id, right id)
    * pair with Jaccard ≥ threshold): same LSH machinery as
    * [[minhashNearDupPairs]], but the band join is left×right instead of a
    * self-join — the incremental-ingestion shape, where `right` is the
    * already-ingested corpus and only the new batch is signed fresh.
    * At production scale the right-side band table is precomputed once and
    * stored; here it is derived on the fly. */
  def minhashNearDupPairsAcross(
      left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 2): DataFrame =
    acrossPairs(sign(left, idCol, textCol, shingleN, numHashes, rowsPerBand),
      right, textCol, threshold, shingleN, numHashes, rowsPerBand)

  /** Cross-corpus pairs with the left side already signed. Only the RIGHT
    * band table is materialized (tiny); full right-corpus shingle arrays are
    * never checkpointed — verification re-shingles just the right docs that
    * appear in a candidate pair (semi-join first), so per-batch materialized
    * state is bounded by candidate count, not corpus size. */
  private def acrossPairs(sl: Signed, right: DataFrame,
      textCol: String, threshold: Double,
      shingleN: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val idCol = sl.idCol
    val rb = bandsOfShingles(shinglesOf(right, idCol, textCol, shingleN),
      idCol, numHashes, rowsPerBand).localCheckpoint()
    // cand is consumed twice (the right semi-join and the verify join)
    val cand = sl.bands.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      .join(rb.select(col(idCol).as("id_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("id_a"), col("id_b")).distinct().localCheckpoint()
    val shR = shinglesOf(
        right.join(cand.select(col("id_b").as(idCol)), Seq(idCol), "left_semi"),
        idCol, textCol, shingleN)
      .select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    verifyPairs(cand,
      sl.shingles.select(col(idCol).as("id_a"), col("__sh").as("sh_a")),
      shR, threshold)
  }

  /** Incremental near-dedup, report shape — continuous corpus building:
    * returns (ids of incoming docs that near-duplicate the EXISTING corpus,
    * the kept docs after also near-deduping the survivors among themselves,
    * min-id canonical per cluster). The cross-corpus hit set is
    * materialized ONCE and shared by both results (and by the three
    * consumptions inside the within-batch dedup). Existing documents are
    * never rewritten; `kept` is exactly the set safe to append. */
  def incrementalNearDupSplit(
      incoming: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    val sl = sign(incoming, idCol, textCol, shingleN = 3, numHashes = 128, rowsPerBand = 2)
    val hits = acrossPairs(sl, existing, textCol, threshold,
        shingleN = 3, numHashes = 128, rowsPerBand = 2)
      .select(col("id_a").as(idCol)).distinct().localCheckpoint()
    val fresh = incoming.join(hits, Seq(idCol), "left_anti")
    // within-batch pass: restrict the ALREADY-SIGNED incoming bands/shingles
    // to the survivors instead of re-running shingle+MinHash+banding on them
    val freshSigned = Signed(
      sl.bands.join(hits, Seq(idCol), "left_anti"),
      sl.shingles.join(hits, Seq(idCol), "left_anti"),
      idCol)
    val comp = connectedComponents(selfPairs(freshSigned, threshold))
    val losers = comp.where(col("id") =!= col("component")).select(col("id"))
    (hits, fresh.join(losers, fresh(idCol) === losers("id"), "left_anti"))
  }

  /** The drop-only view of [[incrementalNearDupSplit]]. */
  def incrementalDropNearDuplicates(
      incoming: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame =
    incrementalNearDupSplit(incoming, existing, idCol, textCol, threshold)._2

  /** Embedding near-dup: pairs with cosine ≥ threshold (brute force with
    * precomputed norms; LSH/IVF variants in [[Similarity]] are the scale
    * path). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val a = Similarity.prepared(df, idCol, vecCol, "a").repartition(p)
    pairsAbove(a.join(broadcast(Similarity.prepared(df, idCol, vecCol, "b")),
      col("a_id") < col("b_id")), threshold)
  }

  /** Within-cell embedding near-dup pairs — the SemDeDup candidate step
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication" — public). Pairwise cosine runs ONLY
    * inside a cell (an equi-join on the cell key, shuffle-partitioned by
    * cell), so the quadratic term is confined to cell populations — the
    * 100 TB lever: k controls cell size and the cross-cell n² disappears
    * entirely. Cells come from any assignment: a category column, an LSH
    * bucket, or a trained k-means quantizer ([[semanticDedupKMeans]]). */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      cellCol: String, threshold: Double): DataFrame = {
    def side(p: String) = Similarity.prepared(df, idCol, vecCol, p, col(cellCol).as("__cell"))
    pairsAbove(side("a").join(side("b"), Seq("__cell")).where(col("a_id") < col("b_id")),
      threshold)
  }

  /** (id_a, id_b, cosine) of the `a`/`b` [[Similarity.prepared]] pair rows
    * whose [[VectorOps.cosine]] is at least `threshold` — a zero-norm
    * vector's NULL cosine never passes. */
  private def pairsAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        VectorOps.cosine(VectorOps.dot(col("av"), col("bv")), col("an"), col("bn")).as("cosine"))
      .where(col("cosine") >= threshold)

  /** SemDeDup keep-set: connected components over the within-cell pair
    * graph, keep the min-id representative of each component plus every
    * unpaired row. Component closure is the same O(log n)-round
    * star-contraction as text near-dup — no driver-side graph. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      cellCol: String, threshold: Double): DataFrame = {
    val comp = connectedComponents(
      semanticNearDupPairs(df, idCol, vecCol, cellCol, threshold))
    val losers = comp.where(col("id") =!= col("component")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** [[semanticDedup]] with cells from a trained k-means quantizer — the
    * full SemDeDup recipe (cluster, then dedup within clusters). The
    * quantizer is [[Similarity.kmeansCentroids]] (deterministic seeded
    * init), so results are reproducible for a fixed (k, iters). */
  def semanticDedupKMeans(df: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, iters: Int = 5): DataFrame = {
    val cents = Similarity.kmeansCentroids(df, idCol, vecCol, k, iters)
    val assigned = Similarity.assignCells(df, vecCol, cents)
    semanticDedup(assigned, idCol, vecCol, "__cell", threshold)
      .drop("__cell")
  }
}
