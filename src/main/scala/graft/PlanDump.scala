package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plans of representative
  * queries, as evidence of the plan shapes the engine relies on (pushdown,
  * pruning, broadcast selection, partial aggregation, codegen spans).
  * Run: sbt "runMain graft.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"

    val picks = Seq(
      "b1_pricing" -> "scan pushdown + pruned columns + partial agg",
      "b2_join_revenue" -> "dim-reduced broadcast chain into the fact probe",
      "b12_cosine_topk" -> "exact top-1 from the primitive-array cosine kernel over a broadcast corpus (no pair rows, no nested loop)",
      "t9b_bloom_join" -> "bloom runtime filter probing the fact scan below the join",
      "b13_asof" -> "as-of join as one window over the tagged union",
      "l15_contamination" -> "sub-quadratic gram equi-join (no nested loop)",
      "l16_shared_spans" -> "positional gram join + per-diagonal islands window",
      "t33_exists" -> "EXISTS/NOT EXISTS decorrelated to semi + anti hash joins",
      "l19_line_dedup" -> "line dedup: count groupBy + anti join, no per-doc rescans",
      "l23_heavy_hitters" -> "Misra-Gries candidates broadcast into the exact recount",
      "t41_gap_fill" -> "grid broadcast joins; forward-fill window partitioned by key",
      "l24_containment" -> "inverted-index gram join, no O(n^2) set-intersect loop",
      "t45_fuzzy_join" -> "delete-neighborhood equi-join replacing the nested-loop levenshtein",
      "b7_semi_anti" -> "semi+anti counts as ONE membership pass (union, partial agg, no crossJoin)",
      "b14_intersect" -> "intersect-count as one scan + conditional-flag agg (no double distinct)",
      "t_delta_read" -> "external Delta snapshot: one scan + broadcast partition-value attach",
      "t_delta_dv" -> "deletion vectors: (file,pos) anti join over the scan, positions exploded distributed",
      "t_iceberg_mor" -> "Iceberg position deletes: delete-file scan anti-joined on _metadata row lineage",
      "l27_semantic_dedup" -> "SemDeDup: within-cell cosine equi-join (quadratic term confined to cells)",
      "l28_html_extract" -> "HTML extraction as a codegen regexp chain inside the scan stage",
      "t50_pattern_match" -> "sequence pattern: ONE window shuffle (pos + all next-stage pointers), then (key,pos) equi-joins",
      "l3_ann_sq_topk" -> "SQ8 ANN: broadcast ADC query weights x corpus codes, shortlist window, exact re-rank",
      "t_delta_stats_prune" -> "Delta stats-pruned scan: only interval-surviving files reach the scan",
      "t_iceberg_stats_prune" -> "Iceberg bounds-pruned scan through the same translator",
      "l31_chunking" -> "sliding chunks: codegen projection + posexplode in the scan stage; only the presentation sort shuffles",
      "t51_drift" -> "PSI drift: ONE map-side-combined agg on the bucket key; window totals over <= nBuckets rows",
      "l33_temperature_mix" -> "temperature mix: md5-bucket membership as a PLAIN scan-stage filter (thresholds are literals, no join)",
      "t53_string_agg" -> "sorted listagg: map-side partial collect_set, one hash-agg shuffle on the key",
      "l34_bm25_topk" -> "BM25: per-term tfs as codegen array filters in the scan stage, ONE broadcast stats row, TakeOrdered top-k (no doc-text shuffle)",
      "l35_hybrid_rrf" -> "hybrid RRF: two bounded top-k legs unioned, one tiny hash agg on id (fusion never touches the corpus)",
      "t55_pagerank" -> "fixed-point PageRank: per-iteration broadcast-hash probe of the O(nodes) rank frame into the stationary edges + one dst agg",
      "l38_rag_context" -> "RAG assembly: no-shuffle chunk fan-out, BM25 broadcast stats row, diversity/budget windows over the bounded candidates",
      "l41_fixed_k_sample" -> "fixed-k sample: hash-prefix prefilter in the scan stage; the ranking window sees only ~8k candidates per stratum, never the corpus",
      "t_null_skipping" -> "null-count skipping: only files whose per-file null stats admit IS [NOT] NULL reach the scan")

    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans (generated by `graft.PlanDump`, sf0.001)\n\n"
    out ++= "Regenerate with `sbt \"runMain graft.PlanDump\"`. AQE final plans\n"
    out ++= "(each query is collected once before explain).\n"
    picks.foreach { case (name, why) =>
      val df = Registry.byName(name).build(spark, sf)
      df.collect() // AQE: final plan only materializes after execution
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // keep the numbered operator tree; drop the per-node detail blocks
      // (they repeat schemas and balloon the file 20×)
      val tree = formatted.split("\n\n\\(1\\) ").head
      out ++= s"\n## $name — $why\n\n```\n$tree\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${out.length} chars)")
    spark.stop()
  }
}
