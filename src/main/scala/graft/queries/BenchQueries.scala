package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}
import graft.operators.{AsOfJoin, Sessionize, Similarity}

/** B1–B15 (SURVEY.md §2.11): the headline bench + correctness suite.
  * Every query ends in a total order and rounds double aggregates (§0 rules).
  */
object BenchQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val b1 = GQuery(
    "b1_pricing",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2)
            .as("sum_charge"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      round(avg(l_quantity), 2) AS avg_qty,
      round(avg(l_extendedprice), 2) AS avg_price,
      round(avg(l_discount), 4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  val b2 = GQuery(
    "b2_join_revenue",
    (s, dir) => {
      val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
      // Build-side choice, made explicit: reduce the dimensional side first
      // (one region → 5 nations → their customers → their in-window orders)
      // to a narrow (o_orderkey, n_name) mapping, then stream lineitem past
      // it. Left to static size estimates Catalyst broadcasts *lineitem*
      // (its pruned 3-column scan looks small) — a 600k-row hash build on
      // the probe side, measured 1.8× slower. The broadcast hint asserts
      // the query's selectivity contract: the mapping is bounded by the
      // single-region, date-windowed orders subset. Where that bound can't
      // be asserted, swap the hint for `.hint("shuffle_hash")` (spillable
      // per-partition build, same side) — the 100 TB-safe form — or leave
      // it to AQE's runtime size-based join selection (engine default).
      //
      // Residual-latency decomposition (B2Probe, compacted sf0.1): planning
      // 28 ms + re-collect of a prebuilt plan 23 ms — i.e. the DATA PATH runs
      // 4× faster than the 94 ms DuckDB baseline; the rest of the ~280 ms
      // wall time is the per-fresh-build constant (sequential broadcast-
      // build job barriers + scheduling floors). Six alternative physical
      // shapes (full shuffle_hash, star-broadcast with concurrent builds,
      // dim-collapse to literals, 2-job forms) all land within ±40 ms of
      // this one — the constant is structural, amortizes to zero at real
      // scale, and does not depend on the join shape chosen here.
      // Round-9 re-probe (median-of-9): star 325 ms < this 346 ms < rest —
      // star's 21 ms is session noise AND it broadcasts the unreduced
      // multi-region orders subset, strictly worse at 100 TB. Floor
      // declared irreducible; full table in PLANS.md §b2.
      val small = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")),
          col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("o_orderkey"))
      t(s, dir, "lineitem")
        .join(broadcast(small), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(revenue), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  val b3 = GQuery(
    "b3_topk_window",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    Some("""SELECT c_mktsegment, rn, c_custkey, c_name, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) WHERE rn <= 3 ORDER BY c_mktsegment, rn"""))

  val b4 = GQuery(
    "b4_running_sum",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
      round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 100"""))

  val b5 = GQuery(
    "b5_rollup",
    (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  val b6 = GQuery(
    "b6_distinct",
    (s, dir) => t(s, dir, "events").agg(countDistinct(col("user_id")).as("exact_users")),
    Some("SELECT count(DISTINCT user_id) AS exact_users FROM events"))

  // HLL sketches differ across engines → rows-only check here; the ±5%
  // accuracy assertion against the exact count lives in the ScalaTest suite.
  val b6approx = GQuery(
    "b6_approx_distinct",
    (s, dir) => t(s, dir, "events").agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users")),
    None)

  /** Driver-checkable twin of b6_approx_distinct: the sketch VALUE is
    * engine-specific, but the accuracy CLAIM is not — emit (exact count,
    * |approx−exact| ≤ 5%·exact) and let the oracle assert the same exact
    * count plus literal TRUE. A sketch regression now hash-mismatches in
    * CORRECTNESS instead of only failing ScalaTest. One scan computes both
    * aggregates; HLL++ merge is order-insensitive, so the boolean is
    * deterministic across partitionings. */
  val b6check = GQuery(
    "b6b_approx_distinct_check",
    (s, dir) =>
      t(s, dir, "events")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("__approx"))
        .select(
          col("exact_users"),
          (abs(col("__approx") - col("exact_users")) <= col("exact_users") * lit(0.05))
            .as("within_band")),
    Some("SELECT count(DISTINCT user_id) AS exact_users, TRUE AS within_band FROM events"))

  val b7 = GQuery(
    "b7_semi_anti",
    (s, dir) => {
      // Semi + anti counts in ONE job via a group-by-membership pass: tag
      // each side, one shuffle on the key with map-side partial agg (orders'
      // repeated custkeys collapse before the exchange), then a single
      // conditional count. The previous two-jobs-plus-crossJoin form paid
      // two Spark job floors for the same answer; this is one. Semantics:
      // customer keys are unique, so every grouped key with in_c set is
      // exactly one customer — with_orders + without_orders = count(customer).
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.select(col("c_custkey").as("k"), lit(1).as("in_c"), lit(0).as("in_o"))
        .unionByName(o.select(col("o_custkey").as("k"), lit(0).as("in_c"), lit(1).as("in_o")))
        .groupBy(col("k"))
        .agg(max(col("in_c")).as("in_c"), max(col("in_o")).as("in_o"))
        .where(col("in_c") === 1)
        .agg(
          count(when(col("in_o") === 1, 1)).as("with_orders"),
          count(when(col("in_o") === 0, 1)).as("without_orders"))
    },
    Some("""SELECT
      (SELECT count(*) FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
      (SELECT count(*) FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders"""))

  val b8 = GQuery(
    "b8_json",
    (s, dir) => {
      // JSON parsing is the per-row cost here, and it runs in the SCAN stage
      // (partial agg pulls the parse below the shuffle). A single-row-group
      // file scans as one task, serializing all parsing on one core — so if
      // the scan has fewer splits than the session's parallelism, spread the
      // raw rows first (cheap: one narrow shuffle of the tiny local file).
      // At production scale the scan has thousands of splits and this branch
      // is a no-op — no extra shuffle of the fact table.
      val spread = graft.Spread.ifNarrow(t(s, dir, "events"))
      spread
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      count(*) AS cnt
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val b9 = GQuery(
    "b9_sessionize",
    (s, dir) =>
      Sessionize.sessionCount(t(s, dir, "events"), "user_id", "ts", "event_id", 1800000000L),
    Some("""SELECT CAST(count(*) AS BIGINT) AS sessions FROM (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
      FROM events) WHERE prev_us IS NULL OR us - prev_us > 1800000000"""))

  val b10 = GQuery(
    "b10_tumbling",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
        .limit(100),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, count(*) AS cnt,
      round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type LIMIT 100"""))

  val b11 = GQuery(
    "b11_tokens",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(size(split(col("text"), " "))).as("tokens"))
        .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY lang ORDER BY lang"""))

  val b12 = GQuery(
    "b12_cosine_topk",
    (s, dir) => {
      // exact top-1 per vector from the primitive-array cosine kernel: the
      // corpus is broadcast once, each probe partition keeps its best
      // neighbour per vector — no scored pair becomes a row
      val e = t(s, dir, "embeddings")
      Similarity.exactTopK(e, e, "vec_id", "embedding", 1)
        .select(col("vec_id"), col("nn_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("vec_id"))
        .limit(20)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_inner_product(a.v, b.v) /
               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      ranked AS (SELECT a_id, b_id, sim,
                        row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
                 FROM pairs)
      SELECT a_id AS vec_id, b_id AS nn_id, round(sim, 4) AS cosine
      FROM ranked WHERE rn = 1 ORDER BY vec_id LIMIT 20"""))

  val b13 = GQuery(
    "b13_asof",
    (s, dir) => {
      // Both as-of sides come from the same events table → single-scan
      // tagged form (one scan + one shuffle instead of two scans).
      val tagged = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("side"))
      AsOfJoin.asofTagged(tagged, Seq("user_id"), "ts", "side", "event_id", "signup_ts")
        .agg(
          count(lit(1)).as("matched"),
          round(sum(col("value")), 2).as("total_value"),
          round(sum((unix_micros(col("ts")) - unix_micros(col("signup_ts"))) / lit(1000000.0)), 2)
            .as("total_lag_s"))
    },
    Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events WHERE event_type = 'purchase'),
      s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'signup'),
      m AS (SELECT p.event_id, max(p.value) AS value,
                   max(epoch_us(p.ts)) AS p_us, max(epoch_us(s.ts)) AS signup_us
            FROM p JOIN s ON s.user_id = p.user_id AND s.ts <= p.ts
            GROUP BY p.event_id)
      SELECT count(*) AS matched, round(sum(value), 2) AS total_value,
             round(sum((p_us - signup_us) / 1000000.0), 2) AS total_lag_s
      FROM m"""))

  val b14 = GQuery(
    "b14_intersect",
    (s, dir) => {
      // INTERSECT-count as one scan + one keyed shuffle: per-custkey status
      // flags via conditional max (partial-aggregated map-side), keep keys
      // seen with BOTH statuses, count. The textbook intersect form scans
      // orders twice and runs two distinct exchanges; set semantics are
      // preserved because groupBy already yields each key once.
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("in_f"),
          max(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("in_o"))
        .where(col("in_f") === 1 && col("in_o") === 1)
        .agg(count(lit(1)).as("n"))
    },
    Some("""SELECT count(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t"""))

  val b15 = GQuery(
    "b15_dedup_hash",
    (s, dir) =>
      t(s, dir, "documents")
        .agg(count(lit(1)).as("total_docs"), countDistinct(md5(col("text"))).as("distinct_docs")),
    Some("SELECT count(*) AS total_docs, count(DISTINCT md5(text)) AS distinct_docs FROM documents"))

  val headline: Seq[GQuery] =
    Seq(b1, b2, b3, b4, b5, b6, b7, b8, b9, b10, b11, b12, b13, b14, b15)

  def all: Seq[GQuery] = headline ++ Seq(b6approx, b6check)
}
