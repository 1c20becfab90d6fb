package graft

import org.apache.spark.sql.functions._
import graft.queries.BenchQueries

/** Plan-quality assertions (SURVEY.md §4.2): the Catalyst behaviors the
  * engine relies on at 100 TB — predicate pushdown to parquet, column
  * pruning, broadcast join selection, partition pruning, whole-stage
  * codegen — verified via the physical plan, not assumed. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("B1: shipdate predicate is pushed to the parquet scan") {
    val plan = planOf(BenchQueries.b1.build(spark, sf001))
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan.take(2000))
  }

  test("B1: scan reads only referenced columns (column pruning)") {
    val plan = planOf(BenchQueries.b1.build(spark, sf001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_partkey"), readSchema)
  }

  test("B2: dimension joins select broadcast hash join") {
    val plan = planOf(BenchQueries.b2.build(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
  }

  test("T9b: bloom probe sits on the fact scan, below the join") {
    val dim = Tables(spark, sf001, "customer").where(col("c_acctbal") > 7000)
      .select(col("c_custkey"))
    val plan = planOf(graft.operators.BloomOps
      .bloomPrunedJoin(Tables(spark, sf001, "orders"), dim, "o_custkey", "c_custkey"))
    // the probe is a Filter over the orders scan (pre-shuffle), fed by a
    // subquery that aggregates the bloom over the dim keys
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(plan.contains("bloom_filter_agg"), plan.take(2000))
    val filterLine = plan.linesIterator.find(_.contains("might_contain")).getOrElse("")
    assert(filterLine.contains("Filter"), filterLine)
  }

  test("B12: native vec_dot runs inside whole-stage codegen") {
    Tables.registerAll(spark, sf001)
    val df = spark.sql(queries.SqlQueries.sql("b12_cosine_topk"))
    df.collect() // AQE: codegen stages only visible in the FINAL plan
    val plan = planOf(df)
    assert(plan.contains("vec_dot"), plan.take(2000))
    // whole-stage codegen renders as "*(n)" stage markers in plan strings
    assert(plan.contains("*("), plan.take(2000))
  }

  test("B12: the cosine kernel scores every pair without a join, an RDD scan or a shuffle") {
    // the corpus arrives through one broadcast exchange; a single-file table
    // also gets Spread.ifNarrow's round-robin spread of the probe side, a
    // compacted one is read as is — the only other exchange would be a
    // re-ranking shuffle the self-search skips
    val compacted = java.nio.file.Files.createTempDirectory("graft_b12").toString
    graft.operators.Layout.compact(Tables(spark, sf001, "embeddings"),
      new java.io.File(compacted, "embeddings.parquet").getPath, 8)
    for ((dir, spread) <- Seq(sf001 -> true, compacted -> false)) {
      val df = BenchQueries.b12.build(spark, dir)
      df.collect()
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      assert(!plan.contains("Scan ExistingRDD"), plan.take(3000))
      assert(plan.contains("CosineTopK"), plan.take(3000))
      val (broadcasts, exchanges) = plan.split("== Initial Plan ==").head.linesIterator
        .filter(_.contains("Exchange")).toSeq.partition(_.contains("BroadcastExchange"))
      assert(broadcasts.size === 1, plan.take(3000))
      assert(exchanges.forall(_.contains("RoundRobinPartitioning")), plan.take(3000))
      assert(exchanges.nonEmpty === spread, plan.take(3000))
    }
  }

  test("partitioned layout enables partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables(spark, sf001, "events").write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    val plan = planOf(spark.read.parquet(out).where(col("event_type") === "click"))
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(2000))
    // pruned scan must not read the partition column from data files —
    // check the ReadSchema struct itself (the FileScan line also mentions
    // event_type inside PartitionFilters)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .map(_.split("ReadSchema: ").last).getOrElse("")
    assert(!readSchema.contains("event_type"), readSchema)
  }

  test("correlated subqueries decorrelate to joins, never per-row re-execution") {
    // EXISTS/NOT EXISTS → semi/anti hash joins; the correlated scalar
    // subquery → aggregate + join. A plan that kept a subquery per outer row
    // would re-scan orders O(customers) times at 100 TB.
    Tables.registerAll(spark, sf001)
    val existsPlan = planOf(spark.sql(queries.SqlQueries.sql("t33_exists")))
    assert(existsPlan.contains("LeftSemi"), existsPlan.take(2000))
    assert(existsPlan.contains("LeftAnti"), existsPlan.take(2000))
    val scalarPlan = planOf(spark.sql(queries.SqlQueries.sql("t32_scalar_subquery")))
    assert(scalarPlan.contains("HashAggregate") &&
      (scalarPlan.contains("SortMergeJoin") || scalarPlan.contains("HashJoin")),
      scalarPlan.take(2000))
    assert(!scalarPlan.contains("InSubqueryExec"), scalarPlan.take(2000))
  }

  test("optimizer rule rewrites the HOF dot-product idiom to native vec_dot") {
    import graft.functions.VectorOps
    val df = Tables(spark, sf001, "embeddings")
      .select(VectorOps.asDouble(col("embedding")).as("v"))
      .select(VectorOps.dotHof(col("v"), col("v")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot"), optimized.take(1500))
    assert(!optimized.contains("aggregate("), optimized.take(1500))
  }

  test("aggregation uses partial (map-side) aggregation before the shuffle") {
    val plan = planOf(Tables(spark, sf001, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))))
    assert(plan.contains("partial_sum") || plan.contains("Partial"), plan.take(2000))
  }

  test("contamination is an equi-join on the gram key, never a nested loop") {
    val d = Tables(spark, sf001, "documents")
    val df = graft.operators.Contamination.report(
      d.where(pmod(col("doc_id"), lit(10)) === 0),
      d.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text", n = 5)
    df.collect() // AQE: judge the final plan
    val plan = planOf(df)
    // sub-quadratic contract: hash/sort-merge equi-join on gram, no BNLJ
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("shared-span islands shuffle once per pair-diagonal, not per gram") {
    val d = Tables(spark, sf001, "documents").limit(50)
    val df = graft.operators.Contamination.sharedSpans(d, "doc_id", "text", 3, 10)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the window runs partitioned by (id_a, id_b, diag) — a real exchange,
    // not a single-partition global window (the classic island-detection
    // scale bug is Window.orderBy with no partitioning)
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("repetition metrics aggregate map-side before shuffling gram counts") {
    val df = graft.operators.TextStats.repetitionStats(
      Tables(spark, sf001, "documents"), "doc_id", "text")
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("heavy hitters: candidate recount is a broadcast semi-join with map-side partial counts") {
    val df = Registry.byName("l23_heavy_hitters").build(spark, sf001)
    df.collect() // AQE final plan
    val plan = planOf(df)
    // candidate set joins the exploded token stream as a broadcast hash join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // recount aggregates partially before its exchange
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("gap fill: observed aggregate broadcasts into the grid; window partitions by key") {
    val df = Registry.byName("t41_gap_fill").build(spark, sf001)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // forward fill must be a keyed window, never a global (empty-partition) one
    assert(plan.contains("windowspecdefinition(event_type"), plan.take(5000))
  }

  test("B7: membership pass is one job — no crossJoin, map-side partial agg") {
    val df = BenchQueries.b7.build(spark, sf001)
    df.collect()
    val plan = planOf(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") && !finalPlan.contains("BroadcastNestedLoop"),
      plan.take(3000))
    // orders' repeated custkeys collapse before the exchange
    assert(finalPlan.contains("partial_max") || finalPlan.contains("HashAggregate"),
      plan.take(3000))
  }

  test("B14: conditional-flag intersect scans orders ONCE") {
    val df = BenchQueries.b14.build(spark, sf001)
    df.collect()
    val plan = planOf(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.linesIterator.count(_.contains("FileScan parquet")) === 1, plan.take(4000))
  }

  test("profile: one aggregation pass feeds every per-column stat row") {
    val df = graft.operators.Profile.numeric(
      Tables(spark, sf001, "orders"), Seq("o_custkey", "o_totalprice"))
    df.collect()
    val plan = planOf(df)
    // multi-distinct goes through the expand rewrite in a single agg chain:
    // exactly one parquet scan of orders in the whole plan (AQE's toString
    // repeats the tree as "Initial Plan" — scope to the final section)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.linesIterator.count(_.contains("FileScan parquet")) === 1, plan.take(4000))
    // approx mode drops the expand entirely
    val aplan = planOf(graft.operators.Profile.numeric(
      Tables(spark, sf001, "orders"), Seq("o_custkey", "o_totalprice"), approx = true))
    assert(!aplan.contains("Expand"), aplan.take(3000))
  }

  test("T63/T64: size gate proves the frames small at graded SF and broadcasts them") {
    // the reduced order frame and the dims pass the bounded row probe at
    // this SF, so the chosen plan is all-broadcast: lineitem (t63) /
    // the per-customer aggregate (t64) never sort-merge
    val p63 = planOf(graft.queries.RelationalQueries.t63.build(spark, sf001))
    assert(p63.contains("BroadcastHashJoin"), p63.take(2000))
    assert(!p63.contains("SortMergeJoin"), p63.take(2000))
    val p64 = planOf(graft.queries.RelationalQueries.t64.build(spark, sf001))
    assert(p64.contains("BroadcastHashJoin"), p64.take(2000))
    assert(!p64.contains("SortMergeJoin"), p64.take(2000))
  }

  test("T65–T68: subqueries decorrelate — semi/anti joins, never per-row re-execution") {
    // EXISTS → one LeftSemi with the non-equi date residual in the condition
    val p65 = planOf(graft.queries.RelationalQueries.t65.build(spark, sf001))
    assert(p65.contains("LeftSemi"), p65.take(3000))
    assert(!p65.contains("CartesianProduct") && !p65.contains("BroadcastNestedLoop"),
      p65.take(3000))
    // correlated scalar avg → ONE grouped aggregate joined back: exactly
    // two lineitem scans (outer + aggregate), not one per row
    val p66 = planOf(graft.queries.RelationalQueries.t66.build(spark, sf001))
    val final66 = p66.split("== Initial Plan ==").head
    assert(final66.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")) === 2, p66.take(4000))
    // EXISTS + NOT EXISTS → one LeftSemi and one LeftAnti on the order key
    val p67 = planOf(graft.queries.RelationalQueries.t67.build(spark, sf001))
    assert(p67.contains("LeftSemi") && p67.contains("LeftAnti"), p67.take(3000))
    // uncorrelated scalar stays a one-row subquery; NOT EXISTS → LeftAnti
    val p68 = planOf(graft.queries.RelationalQueries.t68.build(spark, sf001))
    assert(p68.contains("LeftAnti") && p68.contains("Subquery"), p68.take(3000))
  }

  test("broadcastIfSmall: above the bound the fallback is a spillable shuffle-hash build") {
    import org.apache.spark.sql.functions.col
    val big = Tables(spark, sf001, "orders").select(col("o_orderkey"))
    val fact = Tables(spark, sf001, "lineitem")
    // bound of 10 rows: orders (15k at sf0.001) crosses it immediately —
    // the gate's probe job aborts early and the hint degrades to
    // shuffle_hash, never a driver-side broadcast collect
    val gated = graft.operators.JoinHints.broadcastIfSmall(big, maxRows = 10L)
    val plan = planOf(fact.join(gated, col("l_orderkey") === col("o_orderkey")))
    assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
    // and below the bound it IS a broadcast
    val small = graft.operators.JoinHints.broadcastIfSmall(
      Tables(spark, sf001, "nation"), maxRows = 100L)
    val plan2 = planOf(fact.join(small, col("l_suppkey") % 25 === col("n_nationkey")))
    assert(plan2.contains("BroadcastHashJoin"), plan2.take(2000))
  }

  test("T77: all three Q6 predicates reach the parquet scan; 3-column ReadSchema") {
    val plan = planOf(graft.queries.RelationalQueries.t77.build(spark, sf001))
    val scan = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).getOrElse("")
    assert(scan.contains("l_shipdate") && scan.contains("GreaterThanOrEqual"), scan)
    assert(scan.contains("l_discount") && scan.contains("l_quantity"), scan)
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("T82: OR-of-conjunctions join stays a hash join on the part key") {
    val df = graft.queries.RelationalQueries.t82.build(spark, sf001)
    df.collect() // AQE: final plan
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"),
      plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(3000))
  }

  test("T76/T78/T79: TPC-H star shapes broadcast the reduced frames, no sort-merge") {
    for (q <- Seq(graft.queries.RelationalQueries.t76,
        graft.queries.RelationalQueries.t79)) {
      val p = planOf(q.build(spark, sf001))
      assert(p.contains("BroadcastHashJoin"), s"${q.name}: ${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"${q.name}: ${p.take(2000)}")
    }
    // t78 keeps the one declared fact-fact exchange (lineitem⋈orders); the
    // nation-tagged dims must still broadcast
    val p78 = planOf(graft.queries.RelationalQueries.t78.build(spark, sf001))
    assert(p78.contains("BroadcastHashJoin"), p78.take(2000))
  }

  test("T95–T100: completion-deck shapes broadcast dims, never nested-loop") {
    import graft.queries.RelationalQueries._
    for (q <- Seq(t95, t96, t99, t100)) {
      val p = planOf(q.build(spark, sf001))
      assert(p.contains("BroadcastHashJoin"), s"${q.name}: ${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoop"), s"${q.name}: ${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"${q.name}: ${p.take(2000)}")
    }
    // t97's dim join hides inside its localCheckpoint (Scan ExistingRDD);
    // the visible plan is the per-part rollup crossed with the ONE-ROW
    // total as an IdentityBroadcast — that nested-loop is the declared
    // scalar-threshold shape, not a join regression
    val p97 = planOf(graft.queries.RelationalQueries.t97.build(spark, sf001))
    assert(p97.contains("IdentityBroadcastMode"), p97.take(3000))
    // t98's date filter reaches the fact scan as a pushed filter
    val p98 = planOf(graft.queries.RelationalQueries.t98.build(spark, sf001))
    assert(p98.contains("PushedFilters: [IsNotNull(l_shipdate)"), p98.take(3000))
    // t100's IN-subquery runs as a semi join, never per-row re-execution
    val p100 = planOf(graft.queries.RelationalQueries.t100.build(spark, sf001))
    assert(p100.contains("LeftSemi"), p100.take(3000))
    // t95's join-back of the per-part min frame is a broadcast, and the
    // aggregation beneath it is map-side partial
    val p95 = planOf(graft.queries.RelationalQueries.t95.build(spark, sf001))
    assert(p95.contains("partial_min") || p95.contains("HashAggregate"),
      p95.take(3000))
  }

  /** Repo-wide scale lint (the sweep that would have caught l38's r15
    * global rank window): every UNPARTITIONED Window in every declared
    * query must sit above a bounded input — a `limit` (TakeOrdered shape),
    * a grand-total aggregate (1 row), or a local relation. A global window
    * over an unbounded stream funnels the whole corpus into ONE task at
    * 100 TB. Whitelisted names carry the documented reason in place. */
  test("lint: no unpartitioned Window over an unbounded input, any query") {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Each entry = (query, why the global window's input is bounded anyway)
    val whitelist: Map[String, String] = Map(
      "t21_moving_avg" -> ("input = one row per calendar day (Aggregate on " +
        "date_trunc('day')); bounded by the date domain, not the corpus"),
      "t51_drift" -> ("input = one row per clamped histogram bucket " +
        "(FLOOR least/greatest into a fixed bucket count)"))
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    val flagged = scala.collection.mutable.ArrayBuffer[String]()
    for (q <- Registry.all if !whitelist.contains(q.name)) {
      val plan =
        try q.build(spark, sf001).queryExecution.optimizedPlan
        catch { case _: Throwable => null } // build-time env issues → other specs own them
      if (plan != null) plan.foreach {
        case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
          flagged += s"${q.name}: global Window over unbounded input\n${w.treeString.take(800)}"
        case _ => ()
      }
    }
    assert(flagged.isEmpty, flagged.mkString("\n---\n"))
  }
}
