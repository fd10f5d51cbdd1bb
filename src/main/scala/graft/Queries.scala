package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Named operator-level queries (driver correctness surface).
  *
  * Each query has a DuckDB-oracle SQL twin in [[oracles]] unless its
  * semantics are not SQL-expressible (then the driver records a weaker
  * rows-only check). Together they exercise every operator family in
  * SURVEY.md §2: filter/project, hash aggregation, top-K, joins
  * (shuffle/broadcast/semi/anti/outer), distinct, set ops, windows,
  * rollup, string/date/JSON scalar functions, and the north-star ops
  * (dedup, similarity search, text analysis, multimodal).
  *
  * Float-parity convention: money aggregates round-trip through
  * DECIMAL(18,2) on both sides so Spark and DuckDB agree bit-exactly;
  * raw doubles are only passed through or used in single-op arithmetic
  * (both engines produce identical IEEE results for a single operation).
  */
object Queries {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts`, normalized to a session-local TIMESTAMP
    * whatever the generator's physical encoding. The fixture has been
    * written as both TIMESTAMP(NANOS) — which Spark only reads as LONG
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, with all values
    * whole microseconds, so integer-div by 1000 recovers the exact
    * timestamp DuckDB sees — and TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which reads as TIMESTAMP_NTZ and is cast to
    * TIMESTAMP (value-preserving: every session pins
    * `spark.sql.session.timeZone=UTC`). Downstream code can therefore
    * always rely on `ts` being TimestampType. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Exact decimal view of a 2-decimal money column. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  val relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/P1/P2/F3: hash aggregate with grouped sums (TPC-H Q1 shape).
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * dec2(lit(1.0) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P2: selection + projection; predicate and columns push to the scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          to_timestamp(lit("1997-01-01")), to_timestamp(lit("1997-12-31")))
          && col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    }),

    // J1 + A4/W1: 3-way shuffle join, grouped revenue, deterministic top-10.
    "q03_top_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec2(col("l_extendedprice")) * dec2(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // Semi join (EXISTS).
    "q04_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // Anti join (NOT EXISTS) — customers with no urgent order (non-empty
    // at every scale factor, so the check is never vacuous).
    "q05_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // W1: bounded top-K per group via ranking window.
    "q06_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // A6: distinct projection.
    "q07_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()
    }),

    // Broadcast star join over the dimension chain.
    "q08_star_join" -> ((s, dir) => {
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("suppliers"),
          sum(dec2(col("s_acctbal"))).cast("double").as("total_acctbal"))
    }),

    // Grouping sets / rollup.
    "q09_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    }),

    // Set operations: INTERSECT and EXCEPT branches unioned.
    "q10_set_ops" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.intersect(sn).withColumn("src", lit("both"))
        .unionByName(cn.except(sn).withColumn("src", lit("customer_only")))
    }),

    // Analytic windows: running sum (decimal-exact), lag, dense ranking.
    "q11_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("seq", row_number().over(w))
        .withColumn("running_value",
          sum(dec2(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("user_id") < 20)
        .select("user_id", "event_id", "seq", "running_value", "prev_type")
    }),

    // Date bucketing (tumbling daily window, batch form).
    "q12_daily_events" -> ((s, dir) => {
      events(s, dir)
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
    }),

    // JSON extraction from string props.
    "q13_json_extract" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
    }),

    // String/case scalar functions.
    "q14_string_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 8).as("prefix"),
          concat_ws("|", col("c_mktsegment"), col("c_nationkey")).as("tag"),
          when(col("c_acctbal") < 0, "debt")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("rich").as("band"))
    }),

    // Distinct aggregation.
    "q15_agg_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n"))
    }),

    // Agg-subquery join (TPC-H Q17 shape): lineitems far below the
    // per-part average quantity.
    "q16_below_avg" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val avgQ = l.groupBy(col("l_partkey").as("p_key"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      l.join(avgQ, l("l_partkey") === avgQ("p_key"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("total_price"))
    })
  )

  val relationalOracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |  AND l_quantity >= 45""".stripMargin,

    "q03_top_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q04_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q06_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "q07_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",

    "q08_star_join" ->
      """SELECT r_name, n_name, count(*) AS suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q09_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q10_set_ops" ->
      """SELECT nk, 'both' AS src FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nk FROM supplier)
        |UNION ALL
        |SELECT nk, 'customer_only' AS src FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  EXCEPT
        |  SELECT s_nationkey AS nk FROM supplier)""".stripMargin,

    "q11_window_running" ->
      """SELECT user_id, event_id, seq, running_value, prev_type FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER w AS seq,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      AS running_value,
        |    lag(event_type, 1) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE user_id < 20""".stripMargin,

    "q12_daily_events" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q13_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  count(*) AS n,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events
        |GROUP BY 1""".stripMargin,

    "q14_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_name) AS uname,
        |  substring(c_name, 1, 8) AS prefix,
        |  concat_ws('|', c_mktsegment, c_nationkey) AS tag,
        |  CASE WHEN c_acctbal < 0 THEN 'debt'
        |       WHEN c_acctbal < 5000 THEN 'mid'
        |       ELSE 'rich' END AS band
        |FROM customer""".stripMargin,

    "q15_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    "q16_below_avg" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem
        |JOIN (SELECT l_partkey AS p_key, sum(l_quantity) / count(*) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON l_partkey = p_key
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin
  )

  val relational2: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Sessionization: 30-minute-gap sessions via lag + running sum
    // (exact integer-microsecond arithmetic on both sides).
    "q17_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .select("user_id", "event_id", "session_id")
    }),

    // Discrete percentiles via deterministic rank picks (exact-element
    // semantics — no interpolation, so no float divergence).
    "q18_percentile_disc" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("l_returnflag"))))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("rn") === ceil(col("cnt") * 0.5), col("l_quantity"))).as("p50"),
          min(when(col("rn") === ceil(col("cnt") * 0.9), col("l_quantity"))).as("p90"))
    }),

    // Full outer join of two aggregates.
    "q19_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nk"), "full_outer")
    }),

    // Left outer join null handling: per-order count of heavy lines
    // (zero-preserving).
    "q20_left_join_count" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val heavy = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(heavy, o("o_orderkey") === heavy("l_orderkey"), "left_outer")
        .groupBy(col("o_orderkey"))
        .agg(count(col("l_orderkey")).as("n_heavy"))
    }),

    // Argmax (max_by) with a decimal-exact composite ordering key.
    "q21_argmax" -> ((s, dir) => {
      val ord = dec2(col("o_totalprice")) * 1000000 + col("o_orderkey")
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"), ord).as("best_order"),
          max(dec2(col("o_totalprice"))).cast("double").as("best_price"))
    }),

    // Cube over two grouping dimensions.
    "q22_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
    }),

    // As-of join expressed as a single sort-based window (the scalable
    // form — no inequality join): for each purchase, the most recent
    // click of the same user at or before it.
    "q23_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("last_click_id"))
    }),

    // Date-part extraction (ISO day-of-week aligned across engines:
    // Spark weekday()+1 == DuckDB isodow).
    "q29_date_parts" -> ((s, dir) => {
      events(s, dir)
        .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
          (weekday(col("ts")) + 1).as("isodow"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
    }),

    // Deterministic stratified sample: exactly 5 orders per order status,
    // chosen by a portable md5 draw — reproducible across runs, engines,
    // and physical partitionings (no rand(), no partition-local state).
    "q30_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "orders"), "o_orderstatus", "o_orderkey", 5)
        .select("o_orderkey", "o_orderstatus", "rk")),

    // Corpus-mixing quota sample: per-stratum quotas instead of a
    // uniform n (same portable md5 draw).
    "q31_quota_sample" -> ((s, dir) =>
      graft.ops.Sampling.quotaSample(t(s, dir, "orders"), "o_orderstatus", "o_orderkey",
        Map("F" -> 3, "O" -> 7, "P" -> 2))
        .select("o_orderkey", "o_orderstatus", "rk")),

    // Deterministic train/valid/test split: per-row md5-range label,
    // shuffle-free; the count profile is the oracle check.
    "q32_split_counts" -> ((s, dir) =>
      graft.ops.Sampling.splitByHash(t(s, dir, "orders"), "o_orderkey",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))),

    // Data-mixture reweighting plan: per-language token budgets and
    // repetition factors against a target mixture — the planning step
    // before quota/hash sampling executes the mix. One corpus
    // aggregation + broadcast target join; epochs is a single double
    // multiply/divide, bit-identical across engines.
    "t17_mixture_plan" -> ((s, dir) =>
      graft.ops.Sampling.mixturePlan(
        docs(s, dir), "lang", size(split(col("text"), " ")),
        Seq("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1))),

    // Mixture execution: the t17 plan materialized as (doc, rep)
    // copies — floor(epochs) deterministic copies per doc plus one
    // md5-Bernoulli fractional copy, so expected per-stratum token
    // mass is exactly target_w·T. Pure scan-side arithmetic.
    "t18_mixture_execute" -> ((s, dir) =>
      graft.ops.Sampling.executeMixture(
        docs(s, dir), "lang", "doc_id", size(split(col("text"), " ")),
        Seq("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1))),

    // Conversion funnel: users who viewed, then clicked AFTER the first
    // view, then purchased AFTER that click — strictly ordered event-time
    // stages. Three narrow per-user min-aggregations (partial-agg
    // friendly) chained by broadcastable per-user stage tables; no
    // window sort over the event log.
    "q33_funnel" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val tv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("tv"))
      val tc = ev.filter(col("event_type") === "click")
        .join(tv, "user_id").filter(col("us") > col("tv"))
        .groupBy("user_id").agg(min(col("us")).as("tc"))
      val tp = ev.filter(col("event_type") === "purchase")
        .join(tc, "user_id").filter(col("us") > col("tc"))
        .groupBy("user_id").agg(min(col("us")).as("tp"))
      tv.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(tc.agg(count(lit(1)).as("n_clicked_after_view")))
        .crossJoin(tp.agg(count(lit(1)).as("n_purchased_after_click")))
    }),

    // Value histogram: fixed-width buckets by pure integer arithmetic
    // (floor(value/50)) — engine-portable, no approx sketch; per
    // (event_type, bucket) counts.
    "q34_value_histogram" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // W2: RANGE-frame trailing window — per event, that user's activity
    // in the PRECEDING HOUR by event time (count + an integer-exact
    // value sum), the classic feature-engineering shape. RANGE (not
    // ROWS): frame membership is by ORDER-BY VALUE distance, so
    // same-timestamp peers are all in-frame on both engines — the one
    // frame type no other declared query exercises. Scale: one shuffle
    // by user, per-user sort, then a single sliding pass per partition
    // (WindowExec keeps only the frame buffer resident); a pathological
    // single user is the skew bound — the mitigation is pre-bucketing
    // time into coarse windows (q12's shape), not salting, since a
    // RANGE frame cannot split mid-user.
    // Retention cohort triangle (the funnel's companion and the other
    // canonical event analysis): users bucketed by signup week
    // relative to corpus start, activity counted per (cohort week,
    // weeks since own signup) with one distinct-activity row per
    // (user, week). Pure integer week arithmetic (exact `div`, no
    // float bucketing); one user-keyed aggregation + one narrow join,
    // shuffle bounded by |users| + |active (user, week) pairs|.
    // Corpus-start t0 is derived INSIDE the job (the q43 discipline):
    // the per-user aggregate carries each user's overall min(us)
    // alongside the signup min, is localCheckpoint'd (|users|-sized),
    // and both the signup table and the 1-row broadcast t0 read the
    // checkpoint — so the per-cohort job's plan holds exactly ONE
    // events scan (the activity join side) instead of paying a
    // separate full-scan driver action for one scalar.
    "q42_retention_cohorts" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val perUser = e.groupBy("user_id")
        .agg(min(col("us")).as("mn"),
          min(when(col("event_type") === "signup", col("us"))).as("su"))
        .localCheckpoint()
      val t0 = broadcast(perUser.agg(min(col("mn")).as("t0")))
      val signup = perUser.filter(col("su").isNotNull)
        .select(col("user_id"), col("su"))
      e.join(signup, "user_id").crossJoin(t0)
        .filter(col("us") >= col("su"))
        .select(col("user_id"),
          expr("(su - t0) div 604800000000").as("cohort_week"),
          expr("(us - su) div 604800000000").as("weeks_since"))
        .distinct()
        .groupBy("cohort_week", "weeks_since")
        .agg(count(lit(1)).as("n_active"))
    }),

    // Ingest-rate anomaly detection — the monitoring family's missing
    // canonical op (t30/st17 watch the content DISTRIBUTION, st15 the
    // quality mix; nothing watches the VOLUME — the signal that catches
    // a dead feed or a runaway crawler): hourly event counts flagged
    // where the squared deviation from the corpus mean exceeds 9
    // variances (|z| >= 3). ENTIRELY exact integer algebra — with
    // n = #hours, S = Σc, SS = Σc², the float-free equivalence
    //   (c − S/n)² >= 9·(SS/n − S²/n²)  ⇔  (c·n − S)² >= 9·(n·SS − S²)
    // needs no sqrt and no division, so the flag is bit-stable across
    // engines (the q42 integer-bucket discipline applied to variance).
    // Long-range guard: |c·n − S| < 3.04e9 keeps the square in BIGINT —
    // holds to ~billions of events over ~thousands of hours; beyond
    // that, production drops to the float z-score (a monitor tolerates
    // FP there; the exact form is what makes THIS query oracle-checkable).
    // Shape: one groupBy(hour) shuffle (partial-agg'd map-side), a
    // 1-row global reduce of 3 scalars broadcast back — no window over
    // all hours, no driver materialization of the per-hour table. The
    // hour-count table is localCheckpoint'd so the stats branch reads
    // the (time-bounded, few-KB) materialized counts instead of
    // re-deriving its lineage — without it Catalyst plans a SECOND
    // full corpus scan for the 3 scalars, which doubles the only
    // data-sized cost in the query at 100 TB.
    "q43_rate_anomaly" -> ((s, dir) => {
      val c = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val stats = c.agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      c.crossJoin(broadcast(stats))
        .select(col("h"), col("c"),
          ((col("c") * col("n") - col("s")) * (col("c") * col("n") - col("s"))
            >= (col("n") * col("ss") - col("s") * col("s")) * 9L)
            .cast("long").as("anomaly"))
    }),

    // Classic event-funnel analysis (sessionization's conversion
    // sibling, not covered by q17/q36): per user the ORDERED
    // signup -> view -> click -> purchase chain, each stage the
    // earliest qualifying event strictly after the previous stage and
    // within 24h of it (the conversion-window form — unwindowed, this
    // dense fixture converts everyone; 24h reads 150 -> 39 -> 16 -> 5).
    // Emits the four-row conversion funnel. Four user-keyed partial
    // aggregations + three narrow joins — no window functions, no
    // per-user sort, shuffle bounded by |users| per stage.
    "q41_event_funnel" -> ((s, dir) => {
      val win = 86400000000L // 24h in micros
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      def stage(typ: String, prev: DataFrame, prevT: String, outT: String) =
        e.filter(col("event_type") === typ)
          .join(prev, "user_id")
          .filter(col("us") > col(prevT) && col("us") <= col(prevT) + win)
          .groupBy("user_id").agg(min(col("us")).as(outT))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val s2 = stage("view", s1, "t1", "t2")
      val s3 = stage("click", s2.select("user_id", "t2"), "t2", "t3")
      val s4 = stage("purchase", s3.select("user_id", "t3"), "t3", "t4")
      import s.implicits._
      Seq(("1_signup", s1.count()), ("2_view", s2.count()),
          ("3_click", s3.count()), ("4_purchase", s4.count()))
        .toDF("stage", "n_users")
    }),

    "q36_trailing_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      events(s, dir).select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(floor(col("value")).cast("long")).over(w).as("sum_floor_1h"))
    }),

    // A8b: grouping-METADATA surfacing — a 3-level rollup whose
    // grouping_id distinguishes detail/subtotal/grand-total slots, then
    // a filter ON the metadata keeps only the aggregated levels (the
    // "subtotals report"). Distinct from q09/q22: no other query emits
    // or filters on grouping_id, and NULL-valued group keys are
    // disambiguated from genuine NULL data by the id bits.
    "q37_grouping_id" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"))
        .filter(col("gid") > 0)),

    // Duplicated-span REMOVAL — the second half of Lee et al. dedup
    // that d12 only measures: tokens covered by any corpus-duplicated
    // 3-gram span are deleted and the span-scrubbed corpus emitted,
    // fully-scrubbed documents kept as empty strings (Dedup scale
    // notes: hashed df partial-aggs, df≥2 sliver semi-join, ≤n
    // coverage fan-out, relational token-level reassembly).
    "d13_dupspan_remove" -> ((s, dir) =>
      ops.Dedup.dupSpanRemove(docs(s, dir), "doc_id", "text")),

    // Keep-first span scrub — d13's production-policy sibling (Lee et
    // al.): every duplicated span SURVIVES in its minimum-id owner
    // document and is scrubbed from later copies, so the corpus keeps
    // each span's content exactly once. Distinct oracle shape: the df
    // aggregation also yields the min-owner, and coverage joins
    // ownership to exempt the owner's positions.
    "d14_dupspan_keepfirst" -> ((s, dir) =>
      ops.Dedup.dupSpanRemove(docs(s, dir), "doc_id", "text",
        keepFirst = true)),

    // Cross-document LINE dedup (the CCNet/Dolma paragraph-dedup
    // stage): the corpus keeps exactly one copy of every non-empty
    // line — its (doc_id, line_index)-first occurrence — and later
    // occurrences are deleted, within-document repeats included;
    // empty lines are structural and always survive. The single-line
    // fixture is reflowed DETERMINISTICALLY into 10-token lines (the
    // t43 convention at the p10 paragraph width — long enough that
    // organic text mostly survives while shared 10-gram runs collapse
    // to their first owner: at sf0.01 the gate removes 151 of 2949
    // lines across 57 touched docs, 4 of them scrubbed to '').
    // Hash-df sliver + exact-text ownership make the result
    // bit-identical to the text-level oracle.
    "d24_line_dedup" -> ((s, dir) =>
      ops.Dedup.lineDedup(reflow10(docs(s, dir)), "doc_id", "text")),

    // Line-level benchmark decontamination (d25 — d24's cross-set form
    // and the line-granular analog of d19's W-token windows): every
    // train-split line appearing VERBATIM among the benchmark split's
    // lines (doc_id % 20 == 0, the d09/d19 convention; same 10-token
    // reflow as d24) is deleted. Benchmark lines broadcast (the d09
    // carrier contract), corpus never shuffles, scrub exact on the
    // line text. A real gate: 11 lines / 2 docs at sf0.01, 421 / 325
    // at sf0.1.
    "d25_line_decontaminate" -> ((s, dir) => {
      val d = reflow10(docs(s, dir))
      ops.Dedup.lineDecontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), "doc_id", "text")
    }),

    // Persisted line-inventory dedup (d26): the d15/st16 lifecycle at
    // d24's granularity — the resident (even-id) half's line set is a
    // saved artifact; each ingest batch (odd ids) scrubs lines the
    // index owns (OLD WINS, the d07 convention) plus its own
    // within-batch repeats, without re-reading the resident corpus.
    // Probe joins keyed on (xxhash64, text) — exact under collisions.
    "d26_line_index" -> ((s, dir) =>
      ops.Dedup.lineDedupFromIndex(s, lineIndexPath(s, dir),
        reflow10(docs(s, dir)).filter(col("doc_id") % 2 === 1),
        "doc_id", "text")),

    // Variable-length EXACT-SUBSTRING dedup (Lee et al.'s ExactSubstr
    // semantics — the suffix-array half that d13's fixed trigrams
    // approximate): tokens inside any >= 20-token substring occurring
    // >= 2 times in the corpus (total occurrences — within-document
    // repeats count) are deleted. W = 20 scales the paper's 50-BPE
    // rule to the fixture's ~130-token documents; the rolling 8-byte
    // window keys + exact sliver verify make the result bit-identical
    // to the text-level oracle (no hash-equivalence caveat).
    "d18_substr_remove" -> ((s, dir) =>
      ops.Dedup.exactSubstrRemove(docs(s, dir), "doc_id", "text",
        minLen = 20)),

    // Substring-level benchmark decontamination — d09's destructive
    // companion (d09 MEASURES trigram overlap, this REMOVES >= 20-token
    // spans appearing verbatim in the benchmark split) and the
    // cross-set form of d18. Same train/eval split as d09
    // (doc_id % 20 == 0 plays the eval suite); corpus side streams as
    // 8-byte window keys, the benchmark key and text carriers
    // broadcast, candidates text-verified — bit-exact oracle.
    "d19_substr_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      ops.Dedup.substrDecontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), "doc_id", "text",
        minLen = 20)
    }),

    // SQL-text surface: a correlated scalar subquery through spark.sql
    // (Catalyst decorrelates it into a join) — parts priced above their
    // brand's average. Decimal-exact average on both sides.
    // Exact INTERPOLATED percentiles (continuous), complementing
    // q18's discrete form: median + p25 per return flag. l_quantity
    // holds small integers-as-doubles, so the midpoint interpolation
    // is exact in binary on both engines.
    "q40_percentile_cont" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"),
          expr("percentile(l_quantity, 0.25)").as("p25_qty"),
          count(lit(1)).as("n"))),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-text
    // top-n-per-group idiom (Catalyst decorrelates it into a
    // partitioned rank); the DataFrame twin is q06's window form.
    // Total tie-break (quantity desc, linenumber asc) keeps the top-2
    // deterministic; values pass through untouched.
    "q39_lateral_topn" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT o_orderkey, l.l_linenumber, l.l_quantity
          |FROM orders, LATERAL (
          |  SELECT l_linenumber, l_quantity FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
          |WHERE o_orderkey % 100 = 0""".stripMargin)
    }),

    "q25_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT p.p_brand, count(*) AS n
          |FROM part p
          |WHERE p.p_retailprice > (
          |  SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          |  FROM part p2 WHERE p2.p_brand = p.p_brand)
          |GROUP BY p.p_brand""".stripMargin)
    }),

    // Explicit GROUPING SETS through the SQL surface.
    "q26_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    // Range join, rewritten scalably: "events within 1 hour before each
    // purchase by the same user". A naive inequality join plans as a
    // nested loop; bucketing both sides by hour and equi-joining on
    // (user, bucket) with the purchase probing its own and the previous
    // bucket turns it into a hash join + residual filter.
    "q27_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
        .withColumn("bucket", explode(array(
          floor(col("p_us") / 3600000000L), floor(col("p_us") / 3600000000L) - 1)))
      val cand = ev.withColumn("bucket", floor(col("us") / 3600000000L))
      purchases.join(cand, Seq("user_id", "bucket"))
        .filter(col("us") >= col("p_us") - 3600000000L && col("us") < col("p_us"))
        .groupBy(col("user_id"), col("purchase_id"))
        .agg(count(lit(1)).as("n_prior_events"))
    }),

    // Vector centroid per label with a fold-deterministic sum: values
    // are accumulated in vec_id order on both sides, so the double
    // arithmetic is bit-identical.
    "q28_centroids" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("vals"),
          count(lit(1)).as("n"))
        .withColumn("comp_sum",
          aggregate(col("vals"), lit(0.0), (acc, x) => acc + x.getField("v").cast("double")))
        .withColumn("centroid_comp", col("comp_sum") / col("n"))
        .filter(col("pos") < 4)
        .select("label", "pos", "centroid_comp")
    }),

    // Pivot (fixed value list) — conditional aggregation in the oracle.
    "q24_pivot" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id") % 10 as "user_mod")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map(
          "click" -> "n_click", "error" -> "n_error", "purchase" -> "n_purchase",
          "signup" -> "n_signup", "view" -> "n_view"))
        // empty pivot cells are NULL in Spark but 0 under the oracle's
        // FILTER counts
        .na.fill(0L, Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view"))
    })
  )

  /** d25's DuckDB twin — d24's 10-token reflow on BOTH splits, then
    * the cross-set membership test: a train line is removed iff
    * non-empty and verbatim-present in the benchmark split's distinct
    * line set. string_agg skips the NULL-ed removed lines, keeps
    * empty-string structural lines, fully-scrubbed docs coalesce to
    * ''. Bit-exact (the Spark side joins on the line text itself).
    * Single source shared verbatim by the streaming serve's oracle
    * (st26): per-document independence makes the drained frame equal
    * batch d25 under any batch slicing, so the two queries must never
    * desync. */
  val LineDeconOracle: String =
    """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
      |  FROM documents),
      |rf AS (SELECT doc_id,
      |    list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
      |      i -> array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' '))
      |      AS ls FROM tk),
      |bl AS (SELECT DISTINCT u.l AS line FROM rf, unnest(ls) AS u(l)
      |  WHERE doc_id % 20 = 0 AND len(u.l) > 0),
      |lines AS (SELECT doc_id,
      |    unnest([{'p': i - 1, 'line': ls[i]}
      |            for i in range(1, len(ls) + 1)], recursive := true)
      |  FROM rf WHERE doc_id % 20 <> 0),
      |mk AS (SELECT doc_id, p, line,
      |    CASE WHEN len(line) > 0 AND line IN (SELECT line FROM bl)
      |      THEN 1 ELSE 0 END AS rm
      |  FROM lines)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(rm) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN rm = 0 THEN line END,
      |    chr(10) ORDER BY p), '') AS clean_text
      |FROM mk GROUP BY doc_id""".stripMargin

  /** t53's DuckDB twin — shared verbatim by the streaming
    * fertility monitor (st27): the sums are associative integers, so
    * the drained re-merge equals the batch census bit-for-bit and the
    * two oracles must never desync. */
  val FertilityOracle: String =
    """WITH per AS (SELECT lang,
      |    CAST(len(tk) AS BIGINT) AS d_tokens,
      |    CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
      |      AS BIGINT) AS d_chars,
      |    CAST(strlen(text) AS BIGINT) AS d_bytes,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS d_words
      |  FROM (SELECT lang, text,
      |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS tk
      |    FROM documents)),
      |agg AS (SELECT lang, count(*) AS n_docs,
      |    CAST(sum(d_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(d_chars) AS BIGINT) AS n_chars,
      |    CAST(sum(d_bytes) AS BIGINT) AS n_bytes,
      |    CAST(sum(d_words) AS BIGINT) AS n_words
      |  FROM per GROUP BY lang)
      |SELECT lang, n_docs, n_tokens, n_chars, n_bytes, n_words,
      |  (n_tokens // nullif(n_words, 0)) * 1048576
      |    + ((n_tokens % nullif(n_words, 0)) * 1048576)
      |      // nullif(n_words, 0) AS fertility_fp,
      |  (n_chars // nullif(n_tokens, 0)) * 1048576
      |    + ((n_chars % nullif(n_tokens, 0)) * 1048576)
      |      // nullif(n_tokens, 0) AS chars_per_token_fp,
      |  (n_bytes // nullif(n_tokens, 0)) * 1048576
      |    + ((n_bytes % nullif(n_tokens, 0)) * 1048576)
      |      // nullif(n_tokens, 0) AS bytes_per_token_fp
      |FROM agg""".stripMargin

  /** t56's DuckDB twin — shared verbatim by the streaming CCNet card
    * (st31): the serve's per-document scoring against the frozen
    * corpus-fit LM has no OOV, so the drained scored frame equals the
    * batch scoring and the identical post-drain card makes the two
    * results bit-equal — one oracle, never desynced. t19's scoring
    * CTEs verbatim, then the standard ntile over the total order
    * (mean desc — CAST(sum AS DOUBLE)/count is the same
    * correctly-rounded division both engines compute — id asc) and
    * exact BIGINT card aggregates. DuckDB's ntile is BIGINT, cast to
    * match Spark's INT. */
  val CcnetOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
      |counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
      |lp AS (
      |  SELECT term,
      |    CAST(round(ln((c + 1) / CAST(n + v AS DOUBLE)) * 1048576) AS BIGINT)
      |      AS lp_fp
      |  FROM counts, tot),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    CAST(sum(lp_fp) AS BIGINT) AS logprob_fp,
      |    CAST(sum(lp_fp) AS DOUBLE) / count(*) AS mean_lp
      |  FROM toks JOIN lp USING (term)
      |  GROUP BY doc_id),
      |bucketed AS (
      |  SELECT d.lang, s.n_tokens, s.logprob_fp,
      |    CAST(ntile(3) OVER (
      |      PARTITION BY d.lang ORDER BY s.mean_lp DESC, s.doc_id ASC)
      |      AS INT) AS bucket
      |  FROM scored s JOIN documents d USING (doc_id))
      |SELECT lang, bucket, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(sum(logprob_fp) AS BIGINT) AS sum_logprob_fp
      |FROM bucketed GROUP BY 1, 2""".stripMargin

  val relational2Oracles: Map[String, String] = Map(
    "q17_sessionize" ->
      """SELECT user_id, event_id,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events)""".stripMargin,

    "q18_percentile_disc" ->
      """SELECT l_returnflag,
        |  min(CASE WHEN rn = ceil(cnt * 0.5) THEN l_quantity END) AS p50,
        |  min(CASE WHEN rn = ceil(cnt * 0.9) THEN l_quantity END) AS p90
        |FROM (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "q19_full_outer" ->
      """SELECT coalesce(c.nk, s.nk) AS nk, n_cust, n_supp FROM
        |  (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |USING (nk)""".stripMargin,

    "q20_left_join_count" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_heavy
        |FROM orders
        |LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49) l
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin,

    "q21_argmax" ->
      """SELECT o_custkey,
        |  arg_max(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 + o_orderkey) AS best_order,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS best_price
        |FROM orders
        |GROUP BY o_custkey""".stripMargin,

    "q22_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q23_asof_join" ->
      """SELECT user_id, event_id AS purchase_id, last_click_id FROM (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin,

    "q25_scalar_subquery" ->
      """SELECT p.p_brand, count(*) AS n
        |FROM part p
        |WHERE p.p_retailprice > (
        |  SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)
        |GROUP BY p.p_brand""".stripMargin,

    "q26_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q29_date_parts" ->
      """SELECT year(ts) AS y, month(ts) AS m, isodow(ts) AS isodow,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin,

    "q31_quota_sample" ->
      """SELECT o_orderkey, o_orderstatus, rk FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= CASE o_orderstatus WHEN 'F' THEN 3 WHEN 'O' THEN 7
        |  WHEN 'P' THEN 2 ELSE 0 END""".stripMargin,

    "q32_split_counts" ->
      """SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |  WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) < 'e6666666' THEN 'valid'
        |  ELSE 'test' END AS split, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    // Target weights enter as explicit DOUBLE casts (a bare 0.5 is
    // DECIMAL in DuckDB and would change the arithmetic); epochs is
    // the same double multiply/divide as the Spark side.
    "t17_mixture_plan" ->
      """WITH stats AS (
        |  SELECT lang AS stratum, count(*) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t(stratum, target_w) AS (VALUES
        |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |  ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
        |  ('zh', CAST(0.1 AS DOUBLE))),
        |j AS (SELECT s.stratum, s.n_docs, s.n_tokens, t.target_w
        |      FROM stats s JOIN t USING (stratum)),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM j)
        |SELECT stratum, n_docs, n_tokens, target_w,
        |  CAST(round(target_w * tt) AS BIGINT) AS budget_tokens,
        |  target_w * tt / n_tokens AS epochs
        |FROM j, tot""".stripMargin,

    // t17's epochs CTE, materialized: rep < floor(epochs) keeps the
    // whole copies; the fractional copy compares the md5 hex draw
    // against the width-8 hex rendering of floor(frac·2³²) — the same
    // decision as Spark's numeric conv() compare (fixed-width
    // lowercase hex is order-isomorphic to the integer).
    "t18_mixture_execute" ->
      """WITH stats AS (
        |  SELECT lang AS stratum, count(*) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t(stratum, target_w) AS (VALUES
        |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |  ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
        |  ('zh', CAST(0.1 AS DOUBLE))),
        |j AS (SELECT s.stratum, s.n_tokens, t.target_w
        |      FROM stats s JOIN t USING (stratum)),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM j),
        |plan AS (SELECT stratum, target_w * tt / n_tokens AS epochs FROM j, tot),
        |base AS (
        |  SELECT d.doc_id, d.lang, p.epochs
        |  FROM documents d JOIN plan p ON d.lang = p.stratum),
        |r AS (
        |  SELECT doc_id, lang, epochs,
        |    unnest(range(CAST(ceil(epochs) AS BIGINT))) AS rep
        |  FROM base)
        |SELECT doc_id, lang, rep FROM r
        |WHERE rep < floor(epochs)
        |   OR substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR)), 1, 8)
        |      < lower(lpad(hex(CAST(floor((epochs - floor(epochs)) * 4294967296.0) AS BIGINT)), 8, '0'))""".stripMargin,

    "q30_stratified_sample" ->
      """SELECT o_orderkey, o_orderstatus, rk FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 5""".stripMargin,

    "q27_range_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, count(*) AS n_prior_events
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, epoch_us(ts) AS us FROM events) e
        |  ON p.user_id = e.user_id
        | AND e.us >= p.p_us - 3600000000 AND e.us < p.p_us
        |GROUP BY p.user_id, p.event_id""".stripMargin,

    "q33_funnel" ->
      """WITH tv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS tc
        |  FROM events e JOIN tv ON e.user_id = tv.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > tv.tv
        |  GROUP BY e.user_id),
        |tp AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN tc ON e.user_id = tc.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > tc.tc
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM tv) AS n_viewed,
        |  (SELECT count(*) FROM tc) AS n_clicked_after_view,
        |  (SELECT count(*) FROM tp) AS n_purchased_after_click""".stripMargin,

    "q34_value_histogram" ->
      """SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q37_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(GROUPING(l_returnflag, l_linestatus,
        |    CAST(year(l_shipdate) AS BIGINT)) AS BIGINT) AS gid,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS BIGINT))
        |HAVING GROUPING(l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS BIGINT)) > 0""".stripMargin,

    // Identical exact integer week arithmetic (// is DuckDB's integer
    // division; both sides' diffs are non-negative, so trunc = floor).
    "q42_retention_cohorts" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s AS (SELECT user_id, min(us) AS su FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t0 AS (SELECT min(us) AS t0 FROM e),
        |act AS (SELECT DISTINCT e.user_id,
        |    (su - t0) // 604800000000 AS cohort_week,
        |    (us - su) // 604800000000 AS weeks_since
        |  FROM e JOIN s USING (user_id), t0
        |  WHERE us >= su)
        |SELECT cohort_week, weeks_since, count(*) AS n_active
        |FROM act GROUP BY 1, 2""".stripMargin,

    // The identical float-free |z| >= 3 equivalence; DuckDB's sum()
    // widens to HUGEINT, so the stats are cast back to BIGINT before
    // the integer algebra (in range by the documented guard).
    "q43_rate_anomaly" ->
      """WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS c
        |  FROM events GROUP BY 1),
        |s AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(c * c) AS BIGINT) AS ss FROM c)
        |SELECT h, c,
        |  CAST((c * n - s) * (c * n - s) >= 9 * (n * ss - s * s) AS BIGINT)
        |    AS anomaly
        |FROM c, s""".stripMargin,

    // The identical chained strictly-after-within-24h min-aggregation.
    "q41_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |fun_a AS (SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fun_b AS (SELECT e.user_id, min(us) AS t2
        |  FROM e JOIN fun_a USING (user_id)
        |  WHERE event_type = 'view' AND us > t1
        |    AND us <= t1 + 86400000000 GROUP BY e.user_id),
        |fun_c AS (SELECT e.user_id, min(us) AS t3
        |  FROM e JOIN fun_b USING (user_id)
        |  WHERE event_type = 'click' AND us > t2
        |    AND us <= t2 + 86400000000 GROUP BY e.user_id),
        |fun_d AS (SELECT e.user_id, min(us) AS t4
        |  FROM e JOIN fun_c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t3
        |    AND us <= t3 + 86400000000 GROUP BY e.user_id)
        |SELECT '1_signup' AS stage, count(*) AS n_users FROM fun_a
        |UNION ALL SELECT '2_view', count(*) FROM fun_b
        |UNION ALL SELECT '3_click', count(*) FROM fun_c
        |UNION ALL SELECT '4_purchase', count(*) FROM fun_d""".stripMargin,

    "q36_trailing_window" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT)
        |    AS sum_floor_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // d13's ownership sibling: the df aggregation also carries each
    // duplicated span's min-owner, and coverage exempts the owner's
    // own positions — every span's content survives exactly once.
    "d14_dupspan_keepfirst" ->
      """WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |spans AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN [{'p': i - 1, 's': array_to_string(w[i:i+2], ' '), 'l': 3}
        |          for i in range(1, len(w) - 1)]
        |    ELSE [{'p': 0, 's': array_to_string(w, ' '), 'l': len(w)}] END,
        |    recursive := true)
        |  FROM w),
        |dup AS (SELECT s, min(doc_id) AS keep_id
        |        FROM (SELECT DISTINCT doc_id, s FROM spans)
        |        GROUP BY s HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p + off AS cp FROM (
        |  SELECT sp.doc_id, sp.p, unnest(range(sp.l)) AS off
        |  FROM spans sp JOIN dup d USING (s)
        |  WHERE sp.doc_id <> d.keep_id)),
        |toks AS (SELECT doc_id,
        |  unnest([{'p': i - 1, 'tok': w[i]} for i in range(1, len(w) + 1)],
        |    recursive := true)
        |  FROM w)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(count(c.cp) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' '
        |    ORDER BY t.p), '') AS clean_text
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
        |GROUP BY t.doc_id""".stripMargin,

    // d19: the d18 window machinery across the train/eval split —
    // coverage from corpus windows whose exact text appears anywhere
    // in the benchmark window set. The Spark side's hashed candidates
    // are text-verified before coverage, so this text-level oracle is
    // bit-exact by construction.
    "d19_substr_decontaminate" ->
      """WITH c AS (SELECT doc_id, text, str_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 20 <> 0),
        |b AS (SELECT str_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 20 = 0),
        |bwin AS (SELECT DISTINCT
        |    unnest([array_to_string(w[i:i+19], ' ')
        |            for i in range(1, len(w) - 18)]) AS s
        |  FROM b WHERE len(w) >= 20),
        |cwin AS (
        |  SELECT doc_id, unnest(
        |    [{'p': i - 1, 's': array_to_string(w[i:i+19], ' ')}
        |     for i in range(1, len(w) - 18)], recursive := true)
        |  FROM c WHERE len(w) >= 20),
        |cov AS (SELECT DISTINCT doc_id, p + off AS cp FROM (
        |  SELECT cw.doc_id, cw.p, unnest(range(20)) AS off
        |  FROM cwin cw JOIN bwin USING (s))),
        |toks AS (SELECT doc_id,
        |  unnest([{'p': i - 1, 'tok': w[i]} for i in range(1, len(w) + 1)],
        |    recursive := true)
        |  FROM c)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(count(c.cp) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' '
        |    ORDER BY t.p), '') AS clean_text
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
        |GROUP BY t.doc_id""".stripMargin,

    // Mirrors the Spark semantics at the text level: positioned
    // 20-token windows (docs shorter than 20 tokens have none — the
    // absolute-threshold rule), duplication by TOTAL occurrence count
    // (no DISTINCT doc — within-document repeats count, the Lee et al.
    // ExactSubstr convention), coverage and rebuild as in d13. The
    // Spark side's rolling-hash candidates are text-verified before
    // coverage, so this text-level oracle is bit-exact by construction
    // — no 64-bit-collision equivalence caveat.
    "d18_substr_remove" ->
      """WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(
        |    [{'p': i - 1, 's': array_to_string(w[i:i+19], ' ')}
        |     for i in range(1, len(w) - 18)], recursive := true)
        |  FROM w WHERE len(w) >= 20),
        |dup AS (SELECT s FROM wins GROUP BY s HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p + off AS cp FROM (
        |  SELECT wi.doc_id, wi.p, unnest(range(20)) AS off
        |  FROM wins wi JOIN dup USING (s))),
        |toks AS (SELECT doc_id,
        |  unnest([{'p': i - 1, 'tok': w[i]} for i in range(1, len(w) + 1)],
        |    recursive := true)
        |  FROM w)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(count(c.cp) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' '
        |    ORDER BY t.p), '') AS clean_text
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
        |GROUP BY t.doc_id""".stripMargin,

    // Mirrors the Spark plan stage by stage: positioned 3-gram spans
    // (whole text for short docs), df over distinct (doc, span), df≥2
    // spans expand to covered token positions, uncovered tokens rejoin
    // in order (string_agg skips NULLs; fully-scrubbed docs coalesce
    // to ''). Grouping by the raw span string where Spark groups by
    // xxhash64 of it — identical up to 64-bit collisions, the d12
    // equivalence.
    // The identical deterministic 10-token reflow (t43's ceil/slice
    // arithmetic at the p10 width), then CCNet line dedup expressed
    // with a window: the global first occurrence of every non-empty
    // line in the (doc_id, line_index) total order keeps (r = 1),
    // later occurrences drop; empty lines always keep. string_agg
    // skips the NULL-ed removed lines but INCLUDES kept empty-string
    // lines, exactly the kernel's array_join; fully-scrubbed docs
    // coalesce to ''. The Spark side groups by xxhash64 only to THIN
    // (df >= 2 sliver) and elects owners by the text itself, so there
    // is no hash-equivalence caveat — this twin is bit-exact.
    "d24_line_dedup" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |rf AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
        |      i -> array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' '))
        |      AS ls FROM tk),
        |lines AS (SELECT doc_id,
        |    unnest([{'p': i - 1, 'line': ls[i]}
        |            for i in range(1, len(ls) + 1)], recursive := true)
        |  FROM rf),
        |rn AS (SELECT doc_id, p, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS r
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(count(*) FILTER (r > 1 AND len(line) > 0) AS BIGINT)
        |    AS n_removed,
        |  coalesce(string_agg(CASE WHEN r = 1 OR len(line) = 0 THEN line END,
        |    chr(10) ORDER BY p), '') AS clean_text
        |FROM rn GROUP BY doc_id""".stripMargin,

    // d24's reflow on BOTH splits, then the cross-set membership test
    // (single-source SQL shared verbatim with the st26 stream serve).
    "d25_line_decontaminate" -> LineDeconOracle,

    // The stream serve drains to the identical per-doc frame
    // (per-document independence under any batch slicing).
    "st26_line_decon_serve" -> LineDeconOracle,

    // d24's reflow over ALL docs, then the OLD-WINS incremental rule
    // on the odd (batch) half: a batch line is removed iff non-empty
    // and EITHER present among the even (resident) half's lines OR a
    // later occurrence within the batch's own (doc_id, line_index)
    // order — exactly what probing the persisted index + batch-local
    // first-occurrence dedup computes.
    "d26_line_index" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |rf AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
        |      i -> array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' '))
        |      AS ls FROM tk),
        |lns AS (SELECT doc_id,
        |    unnest([{'p': i - 1, 'line': ls[i]}
        |            for i in range(1, len(ls) + 1)], recursive := true)
        |  FROM rf),
        |old_l AS (SELECT DISTINCT line FROM lns
        |  WHERE doc_id % 2 = 0 AND len(line) > 0),
        |rn AS (SELECT doc_id, p, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS r
        |  FROM lns WHERE doc_id % 2 = 1),
        |mk AS (SELECT doc_id, p, line,
        |    CASE WHEN len(line) > 0 AND (r > 1
        |        OR line IN (SELECT line FROM old_l))
        |      THEN 1 ELSE 0 END AS rm
        |  FROM rn)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(rm) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN rm = 0 THEN line END,
        |    chr(10) ORDER BY p), '') AS clean_text
        |FROM mk GROUP BY doc_id""".stripMargin,

    "d13_dupspan_remove" ->
      """WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |spans AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN [{'p': i - 1, 's': array_to_string(w[i:i+2], ' '), 'l': 3}
        |          for i in range(1, len(w) - 1)]
        |    ELSE [{'p': 0, 's': array_to_string(w, ' '), 'l': len(w)}] END,
        |    recursive := true)
        |  FROM w),
        |dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM spans)
        |        GROUP BY s HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p + off AS cp FROM (
        |  SELECT sp.doc_id, sp.p, unnest(range(sp.l)) AS off
        |  FROM spans sp JOIN dup USING (s))),
        |toks AS (SELECT doc_id,
        |  unnest([{'p': i - 1, 'tok': w[i]} for i in range(1, len(w) + 1)],
        |    recursive := true)
        |  FROM w)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(count(c.cp) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' '
        |    ORDER BY t.p), '') AS clean_text
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
        |GROUP BY t.doc_id""".stripMargin,

    "q28_centroids" ->
      """SELECT label, pos, comp_sum / n AS centroid_comp FROM (
        |  SELECT label, pos,
        |    list_aggregate(list_transform(
        |      list(v ORDER BY vec_id), x -> CAST(x AS DOUBLE)), 'sum') AS comp_sum,
        |    count(*) AS n
        |  FROM (
        |    SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |      unnest(embedding) AS v
        |    FROM embeddings)
        |  GROUP BY label, pos)
        |WHERE pos < 4""".stripMargin,

    "q24_pivot" ->
      """SELECT user_id % 10 AS user_mod,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'error') AS n_error,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'view') AS n_view
        |FROM events
        |GROUP BY 1""".stripMargin
  )

  // ---- North-star pipeline ops (SURVEY.md §2.9): dedup, text analysis,
  // similarity search, multimodal, streaming, and the NND graph itself ----

  import graft.ops.{Clustering, Decontaminate, Dedup, HeavyHitters, Multimodal, Packing, SimilaritySearch, TextAnalysis}

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")

  /** t45_capped's planted boilerplate: 12 tokens >= w+k-1 = 6, so
    * winnowing GUARANTEES every planted document shares a selected
    * fingerprint. Single source for the Spark query and the oracle SQL
    * (the bm25Query pattern — the two cannot desync). */
  val LicenseHeader: String =
    "copyright license granted free of charge to any person obtaining a copy"

  /** t46's deterministic HTML-ification boilerplate, single source for
    * the Spark query and the oracle SQL (no single quotes, so the
    * strings embed verbatim in a SQL literal). The head carries every
    * boilerplate class the extractor must drop — title, style, script
    * with a `<` in its payload, and an EIGHT-link navigation bar that
    * PASSES the token rule (8 tokens) so only the link-density rule
    * can drop it — plus one KEPT summary paragraph whose entities must
    * decode into the output and whose inline anchor must NOT drop it
    * (prose with a link survives; chrome that IS links does not). The
    * foot is a sub-threshold footer line. */
  val HtmlHead: String =
    "<html><head><title>doc &amp; spec</title>" +
      "<style>body { margin: 0; }</style>" +
      "<script>var x = 1; if (x < 2) { x = 3; }</script></head>" +
      "<body><nav><a href=\"/\">home</a> <a href=\"/d\">docs</a> " +
      "<a href=\"/a\">api</a> <a href=\"/b\">blog</a> " +
      "<a href=\"/c\">about</a> <a href=\"/e\">careers</a> " +
      "<a href=\"/f\">contact</a> <a href=\"/g\">legal</a></nav>" +
      "<p>summary: tokens &amp; hashes &lt;fast&gt; dedup at scale " +
      "via the <a href=\"/docs\">spark guide</a> reference</p>"
  val HtmlFoot: String =
    "<footer>copyright 2026 example corp</footer></body></html>"

  /** The t46 pipeline body — HTML-ify deterministically (10-token <p>
    * reflow between [[HtmlHead]] and [[HtmlFoot]]), extract, and feed
    * the extracted column to the t01 token stats (the end-to-end
    * witness). One function consumed by BOTH the batch query (t46) and
    * the streaming serve (st23), so the two surfaces cannot drift. */
  /** The t46 HTML-ification as a column over `text` — the 10-token
    * <p> reflow between [[HtmlHead]] and [[HtmlFoot]]. Factored so the
    * WARC synthesis (m08/p10) serializes the SAME html the extraction
    * exhibits consume — one definition, no drift. */
  private[graft] def htmlifiedCol: Column = {
    val w = split(col("text"), " ")
    val nPar = ceil(size(w) / lit(10.0)).cast("int")
    val paras = when(size(w) >= 1,
      transform(sequence(lit(0), nPar - 1), i =>
        concat(lit("<p>"),
          array_join(slice(w, i * 10 + 1, lit(10)), " "), lit("</p>"))))
      .otherwise(array().cast("array<string>"))
    concat(lit(HtmlHead), array_join(paras, ""), lit(HtmlFoot))
  }

  private[graft] def htmlExtractFrame(d: DataFrame): DataFrame = {
    val ex = TextAnalysis.extractMainContent(
      d.withColumn("html", htmlifiedCol), "doc_id", "html")
    TextAnalysis.tokenStats(ex, "extracted")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("extracted"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"))
  }

  /** The extraction CTE chain (HTML-ify through `ex(doc_id, n_lines,
    * n_kept, extracted)`) parameterized on the source relation, so t46
    * consumes it over `documents` and p07 over the duplicate-augmented
    * corpus — one definition, no drift. */
  /** [[htmlifiedCol]]'s CTE twin — `h(doc_id, html)` over `src` —
    * shared by the extraction chain and the WARC synthesis censuses
    * (m08/p10), mirroring the Scala-side factoring. */
  private def htmlSynthCtes(src: String): String =
      s"""base AS (SELECT doc_id, str_split(text, ' ') AS w
        |  FROM $src),
        |h AS (SELECT doc_id,
        |    '$HtmlHead' ||
        |    array_to_string(list_transform(
        |      range(0, CAST(ceil(len(w) / 10.0) AS INT)), i ->
        |        '<p>' || array_to_string(
        |          list_slice(w, i*10 + 1, i*10 + 10), ' ') || '</p>'),
        |      '') ||
        |    '$HtmlFoot' AS html FROM base)""".stripMargin

  private def htmlExtractCtes(src: String): String =
      s"""${htmlSynthCtes(src)},
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    replace(replace(html, chr(1), ''), chr(2), ''),
        |    '(?is)<script[^>]*>.*?</script>', '', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', '', 'g'),
        |    '(?s)<!--.*?-->', '', 'g') AS t FROM h),
        |s1m AS (SELECT doc_id, regexp_replace(regexp_replace(t,
        |    '(?i)<a(\\s[^>]*)?>', chr(1), 'g'), '(?i)</a>', chr(2), 'g') AS t
        |  FROM s1),
        |s2 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
        |    '(?i)</p>|</h[1-6]>|</li>|</tr>|</div>|</title>|</nav>|' ||
        |      '</header>|</footer>|<br>|<br/>',
        |    chr(10), 'g'), '<[^>]*>', '', 'g') AS t FROM s1m),
        |s3 AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM s2),
        |ln AS (SELECT doc_id, str_split(t, chr(10)) AS rls FROM s3),
        |kp AS (SELECT doc_id, rls, list_filter(rls, l ->
        |    len(list_filter(str_split(
        |      trim(regexp_replace(replace(replace(l, chr(1), ''),
        |        chr(2), ''), ' +', ' ', 'g')), ' '),
        |      x -> x <> '')) >= 5
        |    AND length(regexp_replace(l, '[^a-zA-Z0-9]', '', 'g')) * 100
        |      >= 50 * length(replace(replace(replace(l,
        |        chr(1), ''), chr(2), ''), ' ', ''))
        |    AND COALESCE(list_sum(list_transform(
        |        list_slice(str_split(l, chr(1)), 2,
        |          len(str_split(l, chr(1)))),
        |        s -> length(replace(str_split(s, chr(2))[1], ' ', '')))),
        |      0) * 100
        |      <= 33 * length(replace(replace(replace(l,
        |        chr(1), ''), chr(2), ''), ' ', ''))) AS keptraw FROM ln),
        |ex AS (SELECT doc_id,
        |    CAST(len(rls) AS BIGINT) AS n_lines,
        |    CAST(len(keptraw) AS BIGINT) AS n_kept,
        |    array_to_string(list_transform(keptraw, l ->
        |      trim(regexp_replace(replace(replace(l, chr(1), ''),
        |        chr(2), ''), ' +', ' ', 'g'))), chr(10)) AS extracted
        |  FROM kp)""".stripMargin

  private lazy val htmlExtractSql: String =
    s"""WITH ${htmlExtractCtes("documents")}
      |SELECT doc_id, n_lines, n_kept, extracted,
      |  CAST(len(str_split(extracted, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(str_split(extracted, ' '))) AS BIGINT)
      |    AS n_distinct
      |FROM ex""".stripMargin

  /** Deterministic URL-ification of the documents fixture (the t46
    * HTML-ification precedent): five cycling surface variants per
    * doc_id exercising every normalization rule — mixed-case
    * scheme/host, `www.`, default ports (`:443`, `:80`), tracking
    * parameters leading/mid/trailing (variant 3's is UPPERCASE —
    * `UTM_Campaign` — exercising the case-insensitive strip),
    * fragments, trailing slashes.
    * Variants 0 and 3 are two surface forms of the SAME shared-site
    * page (`news.example.com/articles/{doc_id div 5}`), so every
    * complete 5-block yields one guaranteed URL-dedup collision;
    * variants 1/2/4 live on per-source hosts, the domain-gate (t49)
    * key. Single source for the Spark queries and the SQL twins. */
  /** The m08/st28 WARC fixture: URL-ified + HTML-ified documents with
    * their per-segment assignment (doc_id div 50 — whole containers).
    * Single source so the batch round trip and the streaming ingest
    * serialize byte-identical segments. */
  private[graft] def warcRecs(s: SparkSession, dir: String): DataFrame =
    urlifiedDocs(docs(s, dir))
      .join(docs(s, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("url"), htmlifiedCol.as("html"),
        concat(lit("seg-"), expr("doc_id div 50")).as("seg"))

  /** The m08/st28 record census over a parsed WarcRecord frame —
    * order-independent fingerprints of every payload, URL, and record
    * id, so any moved byte moves the census. Single source with the
    * streaming serve (the drained frame must census identically). */
  private[graft] def warcCensus(parsed: DataFrame): DataFrame =
    parsed.agg(
      count(lit(1)).as("n_records"),
      count_distinct(col("path")).as("n_files"),
      sum(col("content_length")).as("payload_bytes"),
      count_distinct(col("url")).as("n_urls"),
      sum(conv(substring(md5(col("payload")), 1, 8), 16, 10)
        .cast("long")).as("payload_fp"),
      sum(conv(substring(md5(col("url").cast("binary")), 1, 8), 16, 10)
        .cast("long")).as("url_fp"),
      sum(regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
        .cast("long")).as("ids_fp"))

  private[graft] def urlifiedDocs(d: DataFrame): DataFrame = {
    val b = expr("doc_id div 5")
    val v = pmod(col("doc_id"), lit(5))
    d.select(col("doc_id"), col("source"),
      when(v === 0, concat(lit("HTTPS://WWW.News.Example.COM:443/articles/"),
          b, lit("/?utm_source=crawler&utm_medium=rss#sec-"), col("doc_id")))
        .when(v === 1, concat(lit("https://"), col("source"),
          lit(".example.com/articles/"), b, lit("?id="), col("doc_id")))
        .when(v === 2, concat(lit("http://"), col("source"),
          lit(".example.com:80/posts/"), col("doc_id"), lit("/")))
        .when(v === 3, concat(lit("https://www.news.example.com/articles/"),
          b, lit("?UTM_Campaign=feed")))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/articles/"), b, lit("?id="), col("doc_id"),
          lit("&utm_term=x&fbclid=abc"))).as("url"))
  }

  /** t49's twin, shared verbatim by the st24 streaming serve (the
    * st23/t46 convention). */
  private lazy val urlGateSql: String =
    s"""WITH ${urlSynthCte("documents")},
      |$urlNormCtes
      |SELECT doc_id, domain,
      |  CASE WHEN domain IN ($urlBlocklistInList)
      |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS kept
      |FROM normed""".stripMargin

  /** The t49 pipeline body — URL-ify deterministically, normalize,
    * gate on [[UrlBlocklist]]. One function consumed by BOTH the
    * batch query (t49) and the streaming serve (st24), so the two
    * surfaces cannot drift (the htmlExtractFrame discipline). */
  private[graft] def urlGateFrame(d: DataFrame): DataFrame =
    graft.ops.Web.domainGate(
      graft.ops.Web.normalizeUrls(urlifiedDocs(d)), UrlBlocklist)
      .select("doc_id", "domain", "kept")

  /** The t48-family URL synthesis as a DuckDB CTE —
    * `urls(doc_id, url)` over `src` — mirroring [[urlifiedDocs]]. */
  /** t50/t51's shared BM25 more-like-this run: the st13 impact-index
    * re-derivation in batch (same formula, same rank cut) — queries
    * are the first 3 documents, ranks 1..10 per query. */
  private[graft] def t50Run(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir)
    val q = corpus.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("term"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_fp").desc, col("id").asc)
    q.join(TextAnalysis.bm25Impacts(corpus), Seq("term"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("s_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("id").as("doc_id"), col("rank"))
  }

  /** t50/t51's pseudo-relevance evidence: distinct-token overlap
    * counts `(query_id, doc_id, shared)` between each query doc and
    * every other doc — t50 thresholds it binary (>= 20), t51 grades
    * it (>= 24 -> 2, >= 20 -> 1). */
  private[graft] def t50Overlap(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir)
    val toks = corpus.select(col("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
    toks.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("term"))
      .join(toks, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("shared"))
  }

  /** The t50/t51 shared SQL chain: the st13 impact-index re-derivation
    * through `run(query_id, doc_id, rank)` plus the token-overlap
    * evidence `ovl(query_id, doc_id, shared)` — one definition for
    * both oracles, mirroring the Scala-side [[t50Run]]/[[t50Overlap]]
    * factoring. */
  private def t50RunCtes: String =
    """toks AS (
      |  SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
      |  FROM documents),
      |dls AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
      |scalars AS (
      |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM dls),
      |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
      |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |impacts AS (
      |  SELECT term, id,
      |    CAST(round(
      |      ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |      (tf * (CAST(1.2 AS DOUBLE) + 1)) /
      |      (tf + CAST(1.2 AS DOUBLE) *
      |        (1 - CAST(0.75 AS DOUBLE)
      |         + CAST(0.75 AS DOUBLE) * dl / avgdl)) *
      |      1048576) AS BIGINT) AS s_fp
      |  FROM tf JOIN dfs USING (term) JOIN dls USING (id), scalars),
      |queries AS (
      |  SELECT DISTINCT id AS query_id, term FROM toks WHERE id < 3),
      |totals AS (
      |  SELECT q.query_id, i.id, CAST(sum(i.s_fp) AS BIGINT) AS score_fp
      |  FROM queries q JOIN impacts i USING (term)
      |  WHERE i.id != q.query_id
      |  GROUP BY q.query_id, i.id),
      |run AS (
      |  SELECT query_id, id AS doc_id, rank FROM (
      |    SELECT query_id, id, score_fp,
      |      row_number() OVER (
      |        PARTITION BY query_id ORDER BY score_fp DESC, id ASC) AS rank
      |    FROM totals)
      |  WHERE rank <= 10),
      |ovl AS (
      |  SELECT q.query_id, t.id AS doc_id, count(*) AS shared
      |  FROM queries q JOIN (SELECT DISTINCT id, term FROM toks) t
      |    USING (term)
      |  WHERE t.id <> q.query_id
      |  GROUP BY q.query_id, t.id)""".stripMargin

  /** 1-based fixed-point lookup table as a DuckDB VALUES list — the
    * carrier for [[graft.ops.Retrieval]]'s driver-computed rank
    * discounts, so the operator and its twin share the SAME literal
    * integers and no transcendental ever evaluates cross-engine. */
  private def fpValuesList(vals: Seq[Long]): String =
    vals.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")

  private def urlSynthCte(src: String): String =
    s"""urls AS (SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'HTTPS://WWW.News.Example.COM:443/articles/' ||
      |      (doc_id // 5) || '/?utm_source=crawler&utm_medium=rss#sec-' ||
      |      doc_id
      |    WHEN 1 THEN 'https://' || source || '.example.com/articles/' ||
      |      (doc_id // 5) || '?id=' || doc_id
      |    WHEN 2 THEN 'http://' || source || '.example.com:80/posts/' ||
      |      doc_id || '/'
      |    WHEN 3 THEN 'https://www.news.example.com/articles/' ||
      |      (doc_id // 5) || '?UTM_Campaign=feed'
      |    ELSE 'https://' || source || '.example.com/articles/' ||
      |      (doc_id // 5) || '?id=' || doc_id || '&utm_term=x&fbclid=abc'
      |  END AS url FROM $src)""".stripMargin

  /** The `Web.normalizeUrls` chain as DuckDB CTEs: consumes a
    * `urls(doc_id, url)` CTE and yields
    * `normed(doc_id, url, norm_url, domain)` — one definition shared
    * by t48/d22/t49 and p07's stage 0, the htmlExtractCtes
    * discipline. Patterns are the operator's own (Java-regex/RE2
    * common subset); replacements use DuckDB's `\\1` group syntax for
    * Spark's `$$1` — same semantics. */
  private def urlNormCtes: String =
    """up AS (SELECT doc_id, url, trim(coalesce(url, '')) AS u FROM urls),
      |ux AS (SELECT doc_id, url, u,
      |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
      |    AS scheme,
      |  lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1))
      |    AS hostport,
      |  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)', 1)
      |    AS rest FROM up),
      |uy AS (SELECT doc_id, url, u, scheme,
      |  regexp_replace(CASE
      |      WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |      ELSE hostport END, '^www\.', '') AS host,
      |  regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
      |    AS path,
      |  regexp_extract(rest, '^[^?]*(.*)$', 1) AS query0 FROM ux),
      |uz AS (SELECT doc_id, url, u, scheme, host, path,
      |  regexp_replace(replace(regexp_replace(
      |    regexp_replace(query0,
      |      '([?&])(?i:(?:utm_[a-z0-9_]*)|(?:fbclid)|(?:gclid))=[^&]*',
      |      '\1', 'g'),
      |    '&&+', '&', 'g'), '?&', '?'), '[?&]+$', '') AS q FROM uy),
      |normed AS (SELECT doc_id, url,
      |  CASE WHEN scheme = '' THEN lower(u)
      |       ELSE scheme || '://' || host || path || q END AS norm_url,
      |  CASE WHEN scheme = '' THEN ''
      |       ELSE regexp_replace(host, ':[0-9]+$', '') END AS domain
      |  FROM uz)""".stripMargin

  /** t21's fixed retrieval query: two common terms plus the rare 'dup'
    * (df ≈ 5% of docs in the synthetic corpus) so the idf term
    * actually differentiates scores. Shared by the Spark query and the
    * oracle SQL's IN list (via [[bm25QueryInList]] — single source, so
    * the two cannot desync). */
  val bm25Query: Seq[String] = Seq("hash", "join", "dup")
  private val bm25QueryInList = bm25Query.map(t => s"'$t'").mkString(", ")

  /** t49's curated domain blocklist — the shared news site (variants
    * 0/3) plus two per-source hosts; single source for the Spark
    * query and the oracle SQL's IN list (the bm25Query discipline). */
  val UrlBlocklist: Seq[String] =
    Seq("news.example.com", "src3.example.com", "src11.example.com")
  private val urlBlocklistInList = UrlBlocklist.map(d => s"'$d'").mkString(", ")
  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("features"))

  /** The embeddings fixture has NO near-dup pairs (max background cosine
    * 0.63 across SFs), so a near-dup query on the raw table would be a
    * 0-row no-op. The near-dup declared queries therefore run on this
    * AUGMENTED corpus: the fixture plus one deterministically perturbed
    * copy of each vector (v'_j = v_j + 0.12·v_{(j mod d)+1}, id+10⁶) —
    * derived purely from the testdata and mirrored expression-for-
    * expression in the DuckDB oracle. Planted pairs land at cosine
    * 0.9927–0.9948, background stays ≤ 0.633 (measured at sf0.001/0.01/
    * 0.1), so a 0.9 threshold has ≥ 0.09 margin on both sides — the
    * float-parity hazard of a threshold decision never engages. */
  /** The augmentation TRANSFORM itself (per-row projections + a
    * self-union — row-local, so it commutes with any micro-batch
    * slicing; the st25 streaming serve relies on exactly that). */
  private[graft] def augmentEmb(e: DataFrame): DataFrame = {
    val d = size(col("features"))
    val pert = e.select((col("id") + lit(1000000L)).as("id"),
      transform(col("features"), (x, j) =>
        x + lit(0.12f) * element_at(col("features"), pmod(j + 1, d) + 1))
        .as("features"))
    e.unionByName(pert)
  }

  private[graft] def augEmb(s: SparkSession, dir: String): DataFrame =
    augmentEmb(emb(s, dir))

  /** d23's bench/corpus split of the augmented embedding table and its
    * truth/found summary — one definition shared by the batch query
    * and the st25 streaming serve, so the two surfaces and their
    * shared pinned oracle cannot drift. `blocked` is any frame with
    * d23's (`id`, ..., `n_hits`) shape; truth always comes from the
    * batch exact scan. */
  private[graft] def d23Bench(aug: DataFrame): DataFrame =
    aug.filter(col("id") < 1000000L && col("id") % 20 === 0)
  private[graft] def d23Corpus(aug: DataFrame): DataFrame =
    aug.filter(col("id") >= 1000000L || col("id") % 20 =!= 0)
  private[graft] def d23Summary(s: SparkSession, dir: String,
      blocked: DataFrame): DataFrame = {
    val aug = augEmb(s, dir)
    val exact = graft.ops.Decontaminate
      .semanticOverlapExact(d23Corpus(aug), d23Bench(aug),
        "id", "features", 0.9)
      .select(col("id"), (col("n_hits") > 0).as("t"))
    exact.join(blocked.select(col("id"), (col("n_hits") > 0).as("f")),
        Seq("id"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("t") && col("f"), 1L).otherwise(0L)).as("n_found"))
  }

  /** Session-memoized prebuilt artifacts. A production deployment builds
    * the K-NN graph ONCE and serves many searches / many update batches
    * from it; timing the build inside every search query would measure
    * construction, not the declared operation (VERDICT r2 on s03/n02).
    * First touch builds and localCheckpoints (truncating lineage and
    * materializing); later queries in the same session reuse the
    * materialized plan. Entries live in [[graft.core.SessionCache]],
    * scoped by applicationId (localCheckpoint blocks die with their
    * SparkContext, so a fresh session rebuilds) and tagged
    * [[artifactTag]]`(dir, tag)`; an evict releases the checkpoint
    * blocks. */
  private def memo(s: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    graft.core.SessionCache.get(s.sparkContext.applicationId,
      artifactTag(dir, tag))(build.localCheckpoint())(
      graft.core.Checkpoints.release)

  /** The cache tag of artifact `tag` built over fixture `dir` — the
    * tag prefix Bench evicts through [[graft.core.SessionCache.evict]]. */
  private[graft] def artifactTag(dir: String, tag: String): String = s"$dir|$tag"

  /** The t26-trained BPE merge rules in rank order, session-memoized
    * (train once, encode many — t26 summarizes them, t28 applies
    * them); the collect is M = 20 rows. */
  private def bpeRules(s: SparkSession, dir: String): Array[org.apache.spark.sql.Row] =
    memo(s, dir, "bpe_rules")(
      graft.ops.TextAnalysis.bpeMerges(docs(s, dir), "text", 20))
      .collect().sortBy(_.getInt(0))

  /** Session-memoized unigram-LM vocabulary (t35 trains it; t36
    * encodes with it — one training per session per dir, the
    * bpeRules lifecycle). Sorted piece-asc (the trainer's own output
    * order, re-asserted for belt and braces). */
  private def unigramPieces(s: SparkSession, dir: String): Array[org.apache.spark.sql.Row] =
    memo(s, dir, "unigram_vocab")(
      graft.ops.UnigramTokenizer.train(docs(s, dir), "text",
        vocabSize = 48, seedSize = 256, maxPieceLen = 4, iters = 3))
      .collect().sortBy(_.getString(0))

  /** Force the session-memoized unigram vocabulary build — Bench's
    * timed t35_vocab_build phase (it evicts tag "unigram_vocab" through
    * [[graft.core.SessionCache.evict]] for rerun medians). */
  def unigramVocabBuild(s: SparkSession, dir: String): Unit =
    unigramPieces(s, dir)

  /** Session-memoized ON-DISK artifacts (the path-valued sibling of
    * [[memo]]): first touch creates a temp directory, runs `build`
    * into it, and registers a JVM-exit cleanup hook; later touches
    * reuse the path. The catalog `tables` the build registers over the
    * directory are dropped before the build and on evict, which then
    * deletes the directory. */
  private def memoPath(s: SparkSession, dir: String, tag: String,
      tables: String*)(build: String => Unit): String = {
    def dropTables(): Unit =
      tables.foreach(tbl => s.sql(s"DROP TABLE IF EXISTS $tbl"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    graft.core.SessionCache.get(s.sparkContext.applicationId,
      artifactTag(dir, tag)) {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      sys.addShutdownHook(rm(p.toFile))
      dropTables()
      build(p.toString)
      p.toString
    } { p => dropTables(); rm(new java.io.File(p)) }
  }

  /** Bucketed twins of lineitem/orders (8 buckets on the order key,
    * pruned to the exhibit's columns), written once per session via
    * `bucketBy + saveAsTable` to an external temp location — the §4
    * co-located-join story: when BOTH sides of an equi-join are
    * pre-bucketed on the join key with the same bucket count, the join
    * reads bucket-aligned and needs NO shuffle exchange on either side
    * — at 100 TB the difference between re-shuffling the fact table on
    * every join and shuffling it once at ingest. The `repartition(8,
    * key)` before each write uses the same murmur3-pmod placement as
    * the bucket spec, so every task owns exactly one bucket and each
    * bucket is a single sorted file. Returns (lineitem, orders) table
    * names; j01_bucketed_join/j01_shuffled_join in [[benchOnly]] are
    * the measured pair and PlanSpec pins the exchange shapes. */
  /** The id-bucketed FEATURES store — the round-16 dim finding's
    * 100 TB answer, built (SCALE_BENCH.md dim addendum: at 384-d the
    * corpus-features side of the serve's per-hop candidate fetch
    * crosses the broadcast threshold and EVERY hop and layer
    * re-shuffles the features table — serve shuffle 23 -> 514 MB at
    * fixed rows; at 100 TB the corpus never broadcasts at any dim, so
    * that shuffle regime is the only regime). Persisting
    * (id, features) bucketed on id is the j01/s14 layout discipline
    * applied to the per-hop fetch: the scan itself carries
    * HashPartitioning(id), so every candidates-to-features join reads
    * the corpus side EXCHANGE-FREE at any dimension — only the
    * |Q|·beam candidate sliver shuffles, to the bucket layout, and
    * the features bytes move zero times per serve instead of once per
    * hop per layer. Wire it by passing
    * `spark.table(featuresTableName(...))` as the `corpus` of
    * searchGraph/searchHierarchical — the projections inside are
    * alias-preserving, so the bucket partitioning survives to the
    * join and no GraphSearch change is needed. PlanSpec pins the
    * exchange shape; ScaleBench's `s22_serve_bucketed` measures it at
    * the 384-d tier. 8 buckets at fixture scale — the bucket count is
    * the ingest-time parallelism dial at 100 TB (one bucket per
    * executor-core grain), chosen once when the embedding store is
    * written. */
  def featuresTableName(s: SparkSession, dir: String): String = {
    val h = java.lang.Long.toHexString(dir.hashCode & 0xffffffffL)
    val tbl = s"graft_feat_b$h"
    memoPath(s, dir, "feat_bucketed", tbl) { p =>
      emb(s, dir)
        .repartition(8, col("id"))
        .write.bucketBy(8, "id").sortBy("id")
        .option("path", s"$p/features").saveAsTable(tbl)
    }
    tbl
  }

  def bucketedTableNames(s: SparkSession, dir: String): (String, String) = {
    val h = java.lang.Long.toHexString(dir.hashCode & 0xffffffffL)
    val (li, ord) = (s"graft_li_b$h", s"graft_ord_b$h")
    memoPath(s, dir, "bucketed", li, ord) { p =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        .repartition(8, col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$p/lineitem").saveAsTable(li)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$p/orders").saveAsTable(ord)
    }
    (li, ord)
  }

  /** The j01 exhibit aggregation over pre-joined order lines: per
    * order status, line count and total quantity. `merge` hints on
    * both sides force sort-merge on BOTH variants so the measured
    * difference is exactly the exchange elimination, not a
    * broadcast-vs-shuffle strategy flip at small scale. */
  private def j01Agg(li: DataFrame, ord: DataFrame): DataFrame =
    li.hint("merge")
      .join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))

  /** The persisted IVF index artifact (s14): written ONCE per session
    * to a temp directory and served many times — the on-disk
    * build/serve lifecycle ([[SimilaritySearch.saveIvfIndex]] writes
    * the inverted file partitioned by cell; the serve prunes its scan
    * to the probed cell directories). */
  def ivfIndexPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "ivf_index") { p =>
      SimilaritySearch.saveIvfIndex(emb(s, dir), p)
    }

  /** The persisted MinHash-LSH dedup index artifact (d15): shingle
    * sets + band buckets of the even-id resident corpus, written once
    * per session ([[ops.Dedup.saveMinhashIndex]]) and served against
    * each incoming batch — the don't-re-minhash-the-corpus-per-ingest
    * lifecycle (s14's pattern applied to dedup). */
  def minhashIndexPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "minhash_index") { p =>
      ops.Dedup.saveMinhashIndex(
        docs(s, dir).filter(col("doc_id") % 2 === 0), p, "doc_id", "text")
    }

  /** The deterministic 10-token reflow shared by the line-granularity
    * family (d24/d25/d26/st26/p11): the t43 ceil/slice convention at
    * the p10 width. Unconditionally char-count-preserving — 1-char
    * separators both ways, so baseline and line-scrub masses share a
    * unit. */
  def reflow10(df: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val lines10 = transform(
      sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
      i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))
    df.withColumn("text", concat_ws("\n", lines10)).select("doc_id", "text")
  }

  /** The d26 persisted line-inventory artifact: the resident (even-id)
    * half's reflowed line set, saved once and probed per ingest batch
    * (memoized per session like the other index artifacts). */
  def lineIndexPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "line_index") { p =>
      ops.Dedup.saveLineIndex(
        reflow10(docs(s, dir)).filter(col("doc_id") % 2 === 0),
        p, "doc_id", "text")
    }

  /** The incrementally-grown IVF index artifact (s16): built over the
    * 80% "existing" corpus (ids not divisible by 5 — the n02 prior's
    * split), then the 20% increment APPENDED with the saved centroids
    * — the index after a day's ingest, never rebuilt. */
  def ivfIncrIndexPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "ivf_incr") { p =>
      val e = emb(s, dir)
      SimilaritySearch.saveIvfIndex(e.filter(col("id") % 5 =!= 0), p)
      SimilaritySearch.appendToIvfIndex(e.filter(col("id") % 5 === 0), p)
    }

  /** The persisted K-NN graph artifact (n03): the n01 graph written
    * once to parquet — the durable form of the serving graph (a
    * narrow `(id, neighbors)` table; doubles and ids round-trip
    * parquet exactly, so a search over the loaded graph is
    * bit-identical to one over the in-memory build, OpsSpec-asserted). */
  def knnGraphPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "knn_graph") { p =>
      knnGraph(s, dir).select("id", "neighbors")
        .write.mode("overwrite").parquet(s"$p/graph")
    }

  /** The persisted PRUNED serving graph (n09): n08's α = 1.0 occlusion
    * prune of the n01 graph, written once to parquet — the minimal-
    * degree serving artifact (DiskANN's actual deployment shape: build
    * full, prune, SERVE the pruned graph — fewer edges fetched per
    * beam hop at near-held recall). Bench pays the prune+write as
    * `n09_prune_build`; the declared n09 query serves from the
    * reloaded artifact. */
  def prunedGraphPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "pruned_graph") { p =>
      graft.ops.GraphSearch.pruneGraph(
        knnGraph(s, dir).filter(col("neighbors").isNotNull)
          .select("id", "neighbors"),
        emb(s, dir), alpha = 1.0)
        .write.mode("overwrite").parquet(s"$p/graph")
    }

  /** The n10 PARTITIONED serving graph: NND over the two-logical-
    * partition corpus (partition = id % 2) — the reference's
    * partition-gated data model exercised end to end (graph
    * construction and search both confined per partition). Built once
    * per session; Bench pays it as `n10_part_build`. */
  def partitionedGraph(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "n10_graph") {
      graft.nnd.NND.buildGraph(
        emb(s, dir).withColumn("partition", pmod(col("id"), lit(2L))),
        graft.nnd.NND.Params(k = 10, maxIterations = 5))
    }

  /** The frozen corpus-fit unigram LM (term, lp_fp) — the release
    * artifact st31's streaming CCNet card scores against, memoized per
    * session (train once, serve many; identical to the model t56's
    * batch path fits internally, so the serve's card equals t56). */
  def ccnetLm(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "ccnet_lm")(ops.TextAnalysis.unigramLm(docs(s, dir)))

  /** The persisted t31 quality-classifier model artifact: IRLS-trained
    * once per session (6 iterations over the langid-labeled corpus)
    * and written via [[ops.Classifier.saveModel]] — the train-once /
    * serve-everywhere lifecycle (s14/d15/n03's pattern for models).
    * t31 then VERIFIES the loaded artifact's scores and st20 serves
    * it over the stream; the build itself is Bench's timed
    * `t31_model_build` phase. */
  def qualityModelPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "quality_model") { p =>
      ops.Classifier.saveModel(s,
        ops.Classifier.trainQuality(
          TextAnalysis.languageId(docs(s, dir)), col("pred_lang") === "en"),
        p)
    }

  /** The loaded t31 model (a 65-row collect off the artifact). */
  def qualityModel(s: SparkSession, dir: String): graft.ops.Classifier.LogisticModel =
    ops.Classifier.loadModel(s, qualityModelPath(s, dir))

  /** The n01 graph (k=10, 5 iterations over the full embeddings table) —
    * built once per session; n01 pays the build, s03 searches it. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "n01_graph") {
      graft.nnd.NND.buildGraph(emb(s, dir),
        graft.nnd.NND.Params(k = 10, maxIterations = 5))
    }

  /** The persisted s22 layer-stack artifact (n16): a one-row manifest
    * (max_level) plus each layer graph written once to parquet — the
    * durable form of the hierarchical serving stack (the n03/s14
    * persisted-artifact lifecycle applied to s22). The narrow
    * (id, neighbors) tables round-trip parquet exactly, so the
    * loaded-stack search is bit-identical to s22's in-memory one
    * (OpsSpec asserts row equality; the two queries share pin
    * values). */
  def layerStackPath(s: SparkSession, dir: String): String =
    memoPath(s, dir, "s22_stack") { p =>
      val layers = s22LayerGraphs(s, dir)
      import s.implicits._
      Seq(layers.size - 1).toDF("max_level")
        .write.mode("overwrite").parquet(s"$p/meta")
      // Independent per-layer files — overlap the writes (guide §2.6).
      graft.core.Par.map(layers.zipWithIndex) { case (g, l) =>
        g.write.mode("overwrite").parquet(s"$p/layer_$l")
      }: Unit
    }

  /** An HNSW layer stack over `corpus`: layer 0 is the memoized `base`
    * graph; each upper layer l is an NND build over the
    * [[ops.GraphSearch.assignLayers]] level >= l subset (fanout 4 —
    * layer sizes N/4^l), the top layer sized >= ~16 nodes. Upper
    * builds are session-memoized like every serving artifact, tagged
    * `${stack}_count`, `${stack}_levels` and `${stack}_layer_$l`; their
    * total build cost is the geometric tail Σ N/4^l ≈ N/3 extra
    * vectors on top of the base build. */
  private def layerGraphs(s: SparkSession, dir: String, stack: String,
      corpus: DataFrame)(base: => DataFrame): Seq[DataFrame] = {
    val maxLevel = math.max(1,
      (math.log(memoScalar(s, dir, s"${stack}_count")(corpus.count()) / 16.0) /
        math.log(4.0)).toInt)
    val levels = memo(s, dir, s"${stack}_levels")(
      graft.ops.GraphSearch.assignLayers(corpus, maxLevel))
    val base0 = base.filter(col("neighbors").isNotNull).select("id", "neighbors")
    // Upper-layer NND builds are mutually independent (each over its
    // own level >= l subset) and geometric-tail-sized — overlap their
    // job chains (guide §2.6; the base graph and `levels` are forced
    // above, so the parallel branches touch only their own memo key).
    base0 +: graft.core.Par.map((1 to maxLevel).toSeq) { l =>
      memo(s, dir, s"${stack}_layer_$l")(
        graft.nnd.NND.buildGraph(
          corpus.join(levels.filter(col("level") >= l).select("id"), "id"),
          graft.nnd.NND.Params(k = 8, maxIterations = 3))
          .filter(col("neighbors").isNotNull).select("id", "neighbors"))
    }
  }

  /** The s22 layer stack: [[layerGraphs]] over the full corpus on the
    * n01 serving graph. */
  private def s22LayerGraphs(s: SparkSession, dir: String): Seq[DataFrame] =
    layerGraphs(s, dir, "s22", emb(s, dir))(knnGraph(s, dir))

  /** Session-memoized driver scalars (a corpus count is a Spark job;
    * re-running it on every memo-hit call of a layer-stack helper
    * would make "a full memo hit runs zero jobs" false). */
  private def memoScalar(s: SparkSession, dir: String, tag: String)(
      compute: => Long): Long =
    graft.core.SessionCache.get(s.sparkContext.applicationId,
      artifactTag(dir, tag))(compute)(_ => ())

  /** The n18 PRIOR layer stack: [[layerGraphs]] over the 80%
    * "existing" corpus (ids not divisible by 5) on the memoized
    * [[n02Prior]] graph. This is the resident serving artifact the
    * day's append arrives AGAINST; n18 then stack-appends the 20%
    * increment and serves through it. */
  private def n18LayerGraphs(s: SparkSession, dir: String): Seq[DataFrame] =
    layerGraphs(s, dir, "n18", emb(s, dir).filter(col("id") % 5 =!= 0))(
      n02Prior(s, dir))

  /** The n18 APPENDED stack — [[n18LayerGraphs]] plus the 20%
    * increment via [[ops.GraphSearch.appendToGraphStack]] — memoized
    * per layer and shared by the n18 serve census, the n19 health
    * census, and Bench's `n18_append_build` phase (it evicts tag
    * prefix "n18_app_layer_" through [[graft.core.SessionCache.evict]]
    * for rerun medians).
    * The whole-stack build runs lazily: a full memo hit never
    * re-executes the append's eager per-layer beam searches. */
  private def n18AppendedStack(s: SparkSession, dir: String): Seq[DataFrame] = {
    val layers = n18LayerGraphs(s, dir)
    // The append split in two (stackFreshLists + patchStackWithFreshCk
    // = appendToGraphStack) so the phase-1 fresh-list checkpoints are
    // HELD and released below: the memo loop materializes each patched
    // layer into its own checkpoint, after which the inner fresh
    // blocks are dead — without the release, Bench's n18_append_build
    // evict-and-rebuild reruns accumulate one superseded set per
    // rerun x layer for the session lifetime (round-16 ADVICE).
    var appendedForced = false
    lazy val appended = {
      appendedForced = true
      val e = emb(s, dir)
      val fresh = graft.ops.GraphSearch.stackFreshLists(layers,
        e.filter(col("id") % 5 =!= 0), e.filter(col("id") % 5 === 0),
        k = 10, fanout = 4, beam = 64, hops = 5, seeds = 16,
        upperK = 8, upperBeam = 8, upperHops = 3)
      graft.ops.GraphSearch.patchStackWithFreshCk(layers, fresh,
        k = 10, upperK = 8)
    }
    // The heavy eager work (per-layer beam searches + splices) runs
    // when the first branch forces the lazy `appended` (already
    // layer-parallel inside); the per-layer memo checkpoints then
    // materialize concurrently too.
    val out = graft.core.Par.map(layers.indices.toSeq)(l =>
      memo(s, dir, s"n18_app_layer_$l")(appended._1(l)))
    // Release only when THIS call actually built the stack (a full
    // memo hit never forces the lazy block — zero jobs, and no fresh
    // checkpoints exist to release).
    if (appendedForced) appended._2.foreach(
      org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint)
    out
  }

  /** Force the memoized n18 PRIOR stack build (Bench's timed
    * `n18_prior_build` phase — the artifact the day's append arrives
    * against, priced separately so `n18_append_build` times the
    * APPEND alone, never the prior uppers). */
  def n18PriorBuild(s: SparkSession, dir: String): Unit =
    n18LayerGraphs(s, dir): Unit

  /** Force the memoized n18 appended-stack build (Bench's timed
    * `n18_append_build` phase; run after [[n18PriorBuild]]). */
  def n18AppendBuild(s: SparkSession, dir: String): Unit =
    n18AppendedStack(s, dir): Unit

  /** The n20 CONSOLIDATED stack — the n18 appended stack after the
    * scheduled [[ops.GraphSearch.consolidateStack]] refinement (the
    * maintenance response to an n19 trigger): NN-descent over the
    * appended lists with every batch-incident edge flagged fresh,
    * restoring the new<->new edges the per-point append structurally
    * lacks. Memoized per layer and shared by the n20 serve census and
    * Bench's `n20_cons_build` phase (it evicts tag prefix
    * "n20_cons_layer_" through [[graft.core.SessionCache.evict]] for
    * rerun medians).
    * Consolidation parameters mirror the append's (k=10 base /
    * upperK=8); 3 absorption iterations — the measured point where
    * the batch's second-order cascade has been absorbed at these
    * corpus sizes (the δ floor terminates earlier when it is). */
  private def n20ConsolidatedStack(s: SparkSession, dir: String): Seq[DataFrame] = {
    val appended = n18AppendedStack(s, dir)
    lazy val cons = {
      val e = emb(s, dir)
      graft.ops.GraphSearch.consolidateStack(appended, e,
        e.filter(col("id") % 5 === 0), k = 10, fanout = 4, upperK = 8,
        maxIterations = 3)
    }
    // First branch forces the lazy `cons` (layer-parallel inside);
    // the per-layer memo checkpoints materialize concurrently.
    graft.core.Par.map(appended.indices.toSeq)(l =>
      memo(s, dir, s"n20_cons_layer_$l")(cons(l)))
  }

  /** Force the memoized n20 consolidated-stack build (Bench's timed
    * `n20_cons_build` phase; runs over the memoized appended stack,
    * so it prices the CONSOLIDATION alone). */
  def n20ConsBuild(s: SparkSession, dir: String): Unit =
    n20ConsolidatedStack(s, dir): Unit

  /** The n02 prior: a graph over the 80% "existing" corpus (ids not
    * divisible by 5) — the artifact an incremental deployment already
    * has on disk before the day's append arrives. Built once per
    * session; Bench times it separately as `n02_prior_build`. */
  def n02Prior(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "n02_prior") {
      graft.nnd.NND.buildGraph(emb(s, dir).filter(col("id") % 5 =!= 0),
        graft.nnd.NND.Params(k = 10, maxIterations = 5))
        .select("id", "neighbors")
    }

  /** The in-loop-pruned graph (n11): the n01 build with DiskANN-style
    * CONSTRUCTION pruning (`Params.pruneAlpha` = 1.0, maxDegree 12 —
    * the Vamana shape: every merged list occlusion-prunes while the
    * graph is still being built, so each iteration's adjacency join
    * moves fewer edges). STRICT-RNG α = 1.0 is the honest occlusion
    * point on this isotropic fixture (α = 1.2 occludes nothing here —
    * measured n_edges = k·N); the declared n11 prices exactly this
    * trade. Built once per session; Bench times it as
    * `n11_inloop_build`. */
  def inLoopPrunedGraph(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "n11_graph") {
      graft.nnd.NND.buildGraph(emb(s, dir),
        graft.nnd.NND.Params(k = 10, maxIterations = 5,
          pruneAlpha = Some(1.0), pruneMaxDegree = 12))
    }

  /** The t = 8 Gonzalez coreset of the embeddings, shared by s18 (its
    * own exhibit) and p05 (the balance pipeline's strata) — the greedy
    * traversal runs once per session. */
  def kcenterCenters(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "s18_centers") {
      graft.ops.Coreset.kCenters(emb(s, dir), 8)
    }

  /** The exact whole-corpus top-10 ground truth shared by the n01 and
    * n02 recall verifiers — one brute-force pass per session instead of
    * one per verifier. */
  private def bruteTruth(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "brute_truth") {
      val e = emb(s, dir)
      graft.ops.SimilaritySearch.bruteForceTopK(e, e, 10)
        .select(col("query_id"), col("nbr_id"))
    }

  /** One-row (n_hits, n_total) recall summary: how many of the exact
    * result's (query_id, nbr_id) edges the approximate result
    * recovered. The hash-dependent approximate ops (LSH/IVF/quantized
    * ANN, beam search, NND) cannot share a SQL oracle for their raw
    * output, but their constructions are fully deterministic (seeded
    * hyperplanes, xxhash-derived projections, hash-partition-invariant
    * NND — asserted in NNDSpec/OpsSpec), so this summary is a FIXED
    * value per fixture, pinned as a literal in the DuckDB oracle — a
    * driver-visible change detector instead of a rows-only check
    * (VERDICT r2 #4). All-BIGINT output keeps floats out of the hash
    * compare entirely. */
  /** The over-retrieve-and-filter half of the hard-negative recipe
    * (s20/s20b), shared so the two exhibits differ ONLY in their ANN
    * front: given a labeled corpus and a front's ranked
    * `(query_id, rank, nbr_id)` stream, drop same-label hits and keep
    * the `keep` best-ranked per anchor. Label joins are id-keyed and
    * the re-rank is (rank asc) — id-deterministic end to end, so any
    * recall shortfall is the FRONT's (OpsSpec proves the recipe exact
    * at full retrieval depth). */
  private def minedNegatives(corpus: DataFrame, front: DataFrame,
      keep: Int = 5): DataFrame = {
    val labels = corpus.select(col("id"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(asc("rank"))
    front
      .join(labels.select(col("id").as("nbr_id"),
        col("label").as("nbr_label")), "nbr_id")
      .join(labels.select(col("id").as("query_id"),
        col("label").as("query_label")), "query_id")
      .filter(col("query_label") =!= col("nbr_label"))
      .withColumn("nrank", row_number().over(w))
      .filter(col("nrank") <= keep)
  }

  private def recallCounts(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("nbr_id"))
      .join(approx.select(col("query_id"), col("nbr_id")).withColumn("hit", lit(1L)),
        Seq("query_id", "nbr_id"), "left")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"),
        count(lit(1)).as("n_total"))

  /** The m10/p12 sidecar construction, single-sourced: immutable JSONL
    * text shards (seg = doc_id div 50, the m09 layout) plus SEPARATE
    * aligned attribute shards carrying the tagger outputs (t03 langid,
    * t37 gopher n_words/n_stop/kept, the t10 PII patterns as span
    * COUNTS — a Dolma attribute row carries spans/counts; the consumer
    * decides), both PARSED BACK through the engine's own JSONL reader —
    * m10 proves the alignment census, p12 consumes the attributes to
    * materialize a filtered corpus. Returns (textRows, attrRows) keyed
    * by (seg, line_index), text side carrying (t_doc_id, text,
    * n_chars), attr side (a_doc_id, pred_lang, n_pii, n_words, n_stop,
    * gopher_kept). */
  private def m10ParsedShards(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents").withColumn("seg", expr("doc_id div 50"))
    val textShards = graft.ops.Jsonl.buildFiles(d,
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+?\\d[\\d()\\s.-]{7,}\\d"
    val attrs = TextAnalysis.languageId(d)
      .select(col("doc_id"), col("seg"), col("pred_lang"),
        (size(regexp_extract_all(col("text"), lit(email), lit(0))) +
          size(regexp_extract_all(col("text"), lit(ipv4), lit(0))) +
          size(regexp_extract_all(col("text"), lit(phone), lit(0))))
          .cast("long").as("n_pii"))
      .join(TextAnalysis.gopherRules(d, "doc_id", "text",
          stopWords = Seq("the", "a", "of", "and", "in"))
        .select(col("doc_id"), col("n_words"), col("n_stop"),
          col("kept").as("gopher_kept")), Seq("doc_id"))
    val attrShards = graft.ops.Jsonl.buildFiles(attrs,
        Seq("doc_id", "pred_lang", "n_pii", "n_words", "n_stop",
          "gopher_kept"))
      .select(regexp_replace(col("path"), "^jsonl-", "attr-").as("path"),
        col("n_lines"), col("content"))
    import org.apache.spark.sql.types._
    val textSch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val attrSch = StructType(Seq(
      StructField("doc_id", LongType), StructField("pred_lang", StringType),
      StructField("n_pii", LongType), StructField("n_words", LongType),
      StructField("n_stop", LongType), StructField("gopher_kept", LongType)))
    val tp = graft.ops.Jsonl.parseLines(textShards, textSch)
      .select(regexp_extract(col("path"), "([0-9]+)$", 1).cast("long")
          .as("seg"),
        col("line_index"), col("doc_id").as("t_doc_id"), col("text"),
        col("n_chars"))
    val ap = graft.ops.Jsonl.parseLines(attrShards, attrSch)
      .select(regexp_extract(col("path"), "([0-9]+)$", 1).cast("long")
          .as("seg"),
        col("line_index"), col("doc_id").as("a_doc_id"), col("pred_lang"),
        col("n_pii"), col("n_words"), col("n_stop"), col("gopher_kept"))
    (tp, ap)
  }

  val pipeline: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one hash shuffle on the text key.
    "d01_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),

    // Benchmark decontamination: per-training-doc counts of distinct
    // word trigrams shared with the benchmark subset (doc_id % 20 == 0
    // plays the eval suite). The benchmark gram set is broadcast and
    // the corpus streams map-side — it is never shuffled by content
    // (Decontaminate's scale notes; Bloom-carrier twin tested equal).
    "d09_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.overlapCounts(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), "doc_id", "text")
    }),

    // GPT-style sequence packing: every document's placement in the
    // concatenated 256-token-chunk stream (id order), via a
    // distributed prefix sum — no single-task global window (Packing's
    // scale notes; partition-count invariance tested).
    "t11_pack_chunks" -> ((s, dir) =>
      Packing.packChunks(
        docs(s, dir).withColumn("n_tokens", size(split(col("text"), " "))),
        "doc_id", "n_tokens", 256)),

    // Whole-document bin packing (Krell et al. histogram packing —
    // t11's no-split complement: no attention bleed across documents,
    // padding waste priced instead). Best-fit-decreasing solved on the
    // driver over the LENGTH HISTOGRAM (bounded by capacity, never by
    // corpus size), assignment fully relational. The summary pins the
    // whole assignment: bin count, packed/oversize split, token mass,
    // fill rate (2^-20 fixed point), and an order-independent
    // xxhash64 sum over (doc, bin) placements — any drift in the
    // solve or the rank plumbing moves assign_hash.
    "t40_pack_bins" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .select("doc_id", "n_tokens")
      val packed = Packing.packBins(d, "doc_id", "n_tokens", capacity = 128L)
      packed.agg(
          coalesce(max("bin_id") + 1, lit(0L)).as("n_bins"),
          sum(when(col("oversize"), 0L).otherwise(1L)).as("n_docs_packed"),
          sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"),
          sum(when(col("oversize"), 0L).otherwise(col("n_tokens")))
            .as("packed_tokens"),
          // Order-independent exact fingerprint (bounded per-row mod,
          // the t15 manifest_fp convention — a raw xxhash64 sum
          // overflows Long under ANSI).
          sum(when(col("oversize"), lit(0L))
            .otherwise(pmod(xxhash64(col("doc_id"), col("bin_id")),
              lit(1000000007L)))).as("assign_hash"))
        .withColumn("fill_fp",
          round(col("packed_tokens") * 1048576.0 / (col("n_bins") * 128.0))
            .cast("long"))
    }),

    // Per-bin manifest of the t40 packing (the t15 loader-manifest
    // convention applied to whole-document bins): bin -> ordered
    // member ids + fill + residual gap, so a loader consumes bins
    // without re-deriving the assignment. Pinned summary (the
    // assignment is a driver histogram solve, not SQL-expressible);
    // conservation is structural — n_bins / n_docs_packed /
    // packed_tokens must equal t40's pins column for column, max_fill
    // <= capacity by construction, pad_tokens = n_bins*128 -
    // packed_tokens (TrainPrepSpec carries the row-level round-trip
    // equality with the assignment).
    "t41_bin_manifest" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .select("doc_id", "n_tokens")
      val m = Packing.binManifest(
        Packing.packBins(d, "doc_id", "n_tokens", capacity = 128L),
        "doc_id", capacity = 128L)
      m.agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs_packed"),
        sum(col("fill_tokens")).as("packed_tokens"),
        coalesce(max(col("fill_tokens")), lit(0L)).as("max_fill"),
        coalesce(sum(col("gap")), lit(0L)).as("pad_tokens"),
        // Order-independent exact fingerprint over the loader's whole
        // view — bin id, ordered member list, fill (t40's bounded-mod
        // convention).
        sum(pmod(xxhash64(col("bin_id"), col("doc_ids"), col("fill_tokens")),
          lit(1000000007L))).as("manifest_fp"))
    }),

    // Deterministic training-order shuffle: every document's global
    // rank under a portable md5 permutation draw — a distributed
    // row_number (range partition + zipWithIndex), never a single-task
    // global window. The draw is a pure function of doc_id, so the
    // training order is reproducible across engines and retries.
    "t16_train_shuffle" -> ((s, dir) =>
      Packing.globalRank(
        docs(s, dir).select("doc_id"),
        Seq(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")),
        "rank")),

    // The inverse manifest a training loader consumes: per 256-token
    // chunk, the ordered doc span and token mass (explode-the-range +
    // one keyed groupBy — linear in chunks + docs, no windows).
    "t15_chunk_manifest" -> ((s, dir) =>
      Packing.chunkManifest(
        Packing.packChunks(
          docs(s, dir).withColumn("n_tokens", size(split(col("text"), " "))),
          "doc_id", "n_tokens", 256),
        "doc_id", 256)),

    // Vocabulary-size estimation: exact distinct term count next to
    // the HLL++ estimate (rsd 2%). The sketch's register max-merge is
    // associative/commutative, so the estimate is a pure function of
    // the data — pinnable — while its state is O(1) per partition
    // where the exact count shuffles every distinct term (at corpus
    // scale you run ONLY the sketch; the exact twin here is the
    // fixture-sized accuracy witness).
    "t14_vocab_estimate" -> ((s, dir) =>
      docs(s, dir).select(explode(split(col("text"), " ")).as("term"))
        .agg(countDistinct(col("term")).as("n_exact"),
          approx_count_distinct(col("term"), 0.02).as("n_approx"))),

    // Exact heavy hitters (terms at ≥ 1% of the token stream) via
    // Misra-Gries candidates + exact recount: the candidate set may
    // vary with partitioning but the output is exact and deterministic
    // (no-false-negative guarantee + recount), so the groupBy-count
    // oracle checks it bit-for-bit. Threshold is integer arithmetic
    // (n·100 ≥ total·1) on both engines.
    "t12_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.frequentTerms(docs(s, dir), split(col("text"), " "), 1L, 100L)),

    // Exact near-dup pairs by 3-gram shingle Jaccard, with the
    // document-frequency cap engaged (shingles in >10% of the corpus are
    // dropped before the self-join): per-shingle fan-out is bounded by
    // (0.1·N)², so a stop-phrase can no longer own the shuffle at
    // corpus scale. The oracle applies the identical cap.
    "d02_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", 0.7,
        maxDocFraction = Some(0.1))),

    // MinHash+LSH near-dup: linear candidate generation + exact verify.
    // Same oracle as d02 — LSH recall at J>=0.7 with 8 bands of 4 makes
    // the verified output equal the exact join (validated in tests).
    "d03_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", 0.7)),

    // Edit-distance verify layer over the d03 pairs: shingle Jaccard
    // AND character Levenshtein per pair — the two independent
    // closeness metrics a destructive dedup pass cross-checks
    // (Dedup.editVerifiedPairs scale notes). Exact-join + levenshtein
    // oracle; both engines' levenshtein are unit-cost Wagner-Fischer.
    "d17_edit_verify" -> ((s, dir) =>
      Dedup.editVerifiedPairs(docs(s, dir), "doc_id", "text", 0.7)),

    // SimHash near-dup candidates: pinned summary — candidate count
    // plus coverage of the exact J>=0.8 ground-truth pairs. The sketch
    // is a pure xxhash64 construction, so all three counts are fixed
    // per-fixture facts, pinned in the oracle.
    "d04_simhash_pairs" -> ((s, dir) => {
      val cand = Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 12)
        .select(col("doc_a"), col("doc_b"))
      val truth = Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val coverage = truth
        .join(cand.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_true_found"))
      nCand.crossJoin(coverage)
    }),

    // Embedding-cosine near-dup at a genuine near-dup threshold (0.9)
    // over the augmented corpus (see augEmb: fixture + planted perturbed
    // copies — the raw fixture has no pairs above 0.64). Declared path =
    // sign-LSH candidates (12 planes × 16 tables, miss P < 1e-6 at the
    // planted cosines) + exact cosine verify: candidate generation is
    // linear per table and ~250× below N²/2 (asserted in OpsSpec), so
    // the query that survives a 100× corpus is the one declared here.
    // Ids only so no float crosses the compare; output equals the exact
    // scan on the fixture (oracle) — engineered recall, like d03.
    "d05_embedding_pairs" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(augEmb(s, dir), "id", "features", 0.9)
        .select("id_a", "id_b")),

    // SemDeDup-style semantic near-dup pairs: deterministic k-means
    // blocking + within-cluster exact verify. Semantic pairs are a
    // subset of the exact-scan pairs by construction, so the pinned
    // row is (true pairs, co-clustered true pairs) — recall of the
    // semantic blocking, measured not claimed.
    "d11_semantic_pairs" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val sem = Dedup.semanticPairs(e, "id", "features", 0.9)
        .select("id_a", "id_b").withColumn("hit", lit(1L))
      Dedup.embeddingPairs(e, "id", "features", 0.9)
        .select("id_a", "id_b")
        .join(sem, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
    }),

    // SemDeDup's DROP LIST (d21 — Abbas et al. '23 run to its end):
    // d11's cluster-blocked semantic pairs closed into connected
    // components, min-id survivor per component — "which embeddings
    // actually leave the corpus". Pure composition (semanticPairs +
    // connectedComponents, both shipped); the whole summary is a
    // deterministic fact (fixed-point k-means blocking, exact cosine
    // verify, min-id closure), pinned at every SF: corpus size,
    // survivor count, dropped count (>= the 500/500/2000 planted
    // perturbed copies whenever each lands in its original's cluster —
    // the d11 recall pins say they do), and the dropped-id mass.
    "d21_semantic_survivors" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val comp = graft.ops.Components.connectedComponents(
        e.select("id"),
        Dedup.semanticPairs(e, "id", "features", 0.9)
          .select("id_a", "id_b"))
      comp.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_survivors"),
        sum(when(col("id") =!= col("component"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("id") =!= col("component"), col("id"))
          .otherwise(lit(0L))).as("dropped_ids_fp"))
    }),

    // SEMANTIC benchmark decontamination (d23): the d09 scrub at the
    // embedding level — near-PARAPHRASES of benchmark items that share
    // no trigram still sit at high cosine. Benchmark = the id%20==0
    // originals; corpus = everything else in the augmented table, so
    // the perturbed copies of benchmark rows (cosine 0.9927-0.9948 to
    // their originals, background <= 0.633 — the augEmb margins) are
    // the planted paraphrases. Truth comes from the exact broadcast
    // scan IN-QUERY, found from the bench-fitted IVF blocking
    // (8 cells / 2 probes); blocked hits are a subset of exact by
    // construction, so n_found/n_truth is the blocking's recall —
    // measured and pinned, the d11 discipline.
    "d23_semantic_decontaminate" -> ((s, dir) =>
      d23Summary(s, dir,
        Decontaminate.semanticOverlap(
          d23Corpus(augEmb(s, dir)), d23Bench(augEmb(s, dir)),
          "id", "features", 0.9))),

    // Streaming semantic decontamination at ingest (st25): the d23
    // blocked scrub applied to the embedding STREAM — the benchmark
    // side is a static artifact, the corpus side arrives in
    // micro-batches, and per-document independence (a doc's candidates
    // are generated from its own row against the broadcast probes)
    // makes the drained per-doc frame equal the batch one under any
    // slicing; the summary therefore shares d23's pinned oracle
    // verbatim (the st24/t49 convention). foreachBatch (the st19
    // idiom): the kernel's centroid fit is a batch-side collect the
    // incremental planner cannot run.
    "st25_semantic_decon_serve" -> ((s, dir) =>
      d23Summary(s, dir,
        graft.streaming.EventsStream.semanticDeconServe(
          s, dir, d23Bench(augEmb(s, dir)),
          b => d23Corpus(augmentEmb(b)), 0.9))),

    // Streaming tokenizer-fertility monitor (st27): t53's census kept
    // live at ingest — per-batch integer partial sums re-merged once,
    // the shared fixed-point ratios applied to the merged totals only.
    // Zero stream state; shares FertilityOracle verbatim.
    "st27_fertility_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.fertilityServe(s, dir)),

    // Streaming CCNet perplexity-bucket card (st31): t56 kept live at
    // ingest — the frozen corpus-fit unigram LM is a session-memoized
    // broadcast artifact (CCNet's reference-LM architecture: models
    // ship by release), micro-batches score statelessly against it,
    // and the exact ntile card applies once over the drained scored
    // frame (tranches are corpus-relative — per-batch ntile would rank
    // each batch against itself). Zero stream state; equals batch t56
    // bit-for-bit (no OOV under the corpus-fit LM) and shares
    // CcnetOracle verbatim.
    "st31_ccnet_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.ccnetServe(s, dir, ccnetLm(s, dir))),

    // Streaming line-level decontamination at ingest (st26): d25's
    // cross-set line scrub per micro-batch against the static
    // broadcast benchmark line set — zero stream state, per-document
    // independence, drained frame == batch d25 row-for-row (shares
    // LineDeconOracle verbatim).
    "st26_line_decon_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.lineDeconServe(s, dir,
        reflow10(docs(s, dir)).filter(col("doc_id") % 20 === 0),
        b => reflow10(b).filter(col("doc_id") % 20 =!= 0))),

    // Near-dup CLUSTERS: connected components over the near-dup pair
    // graph — every doc gets a cluster id (min doc id in its component)
    // and a keep flag on the canonical representative. The declared path
    // is the corpus-scale one: LSH candidate generation (linear) + exact
    // verify feeds the component build; d03's green oracle proves
    // LSH+verify == the exact join on this threshold regime.
    "d06_dedup_clusters" -> ((s, dir) =>
      Dedup.clusterNearDups(docs(s, dir), "doc_id", "text", 0.7, useLsh = true)
        .select(col("id").as("doc_id"), col("component"), col("keep"))),

    // Quality-ranked survivor per near-dup cluster: keep the
    // highest-quality member (lowest id on ties) instead of the lowest
    // id — the curation policy real pipelines want. One max_by
    // aggregation over the cluster assignment.
    "d10_dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.clusterSurvivors(d, "doc_id", "text", 0.7,
        TextAnalysis.qualityScore(d).select(col("doc_id"), col("quality")),
        useLsh = true)
    }),

    // End-to-end corpus curation: near-dup dedup (connected-component
    // canonical docs) composed with the quality filter — the pipeline a
    // user actually runs, oracle-checked as one query.
    "p01_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      // LSH declared path, same as d06 — the curation pipeline must be
      // the one that survives the corpus scale-up.
      val kept = Dedup.clusterNearDups(d, "doc_id", "text", 0.7, useLsh = true)
        .filter(col("keep") === 1)
        .select(col("id").as("doc_id"))
      TextAnalysis.qualityScore(d)
        .join(kept, "doc_id")
        .filter(col("quality") >= 0.6)
        .select("doc_id")
    }),

    // End-to-end pretraining-corpus assembly — the capstone
    // composition a training-data user actually runs, all four stages
    // the declared scale paths: (1) benchmark decontamination (d09
    // semantics: drop any training-split doc sharing a trigram with
    // the bench split — broadcast gram carrier, corpus never shuffled
    // by content); (2) per-source p25 quality cut among survivors
    // (t27 semantics: one windowed exchange); (3) exact dedup, oldest
    // id wins (d01 semantics: vocabulary-sized text-hash groupBy);
    // (4) GPT-style sequence packing of the surviving corpus in id
    // order (t11 semantics: distributed prefix sum, no global
    // window). Output = each survivor's placement in the packed
    // 256-token chunk stream; the oracle chains the four stages'
    // bit-exact SQL fragments.
    "p02_pretrain_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      val clean = Decontaminate.overlapCounts(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0), "doc_id", "text")
        .filter(col("n_contaminated") === 0)
        .select("doc_id")
      val scored = TextAnalysis.qualityScore(d)
        .select(col("doc_id"), col("source"), col("quality"))
        .join(clean, "doc_id")
      val qualified = graft.ops.Sampling
        .quantileFilter(scored, "doc_id", "source", "quality", 0.25)
        .filter(col("keep")).select("doc_id")
      val deduped = d.join(qualified, "doc_id")
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      Packing.packChunks(
        deduped.withColumn("n_tokens", size(split(col("text"), " "))),
        "doc_id", "n_tokens", 256)
    }),

    // PPJoin-style prefix-filtered exact Jaccard: identical output to
    // the full shingle self-join, but candidates come only from each
    // document's rarest |x|-⌈t|x|⌉+1 shingles — the join fan-out runs
    // over rare-end document frequencies, inverting hot-shingle skew.
    // The skewed-corpus scale path, now oracle-checked.
    "d08_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(docs(s, dir), "doc_id", "text", 0.7)),

    // Incremental dedup: new batch (odd ids) vs existing corpus (even
    // ids) — LSH candidates verified by exact Jaccard; equals the
    // cross-table subset of the exact join (oracle).
    "d07_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashLshPairsAcross(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 0.7)
    }),

    // d07 served from the PERSISTED index: the resident corpus's
    // shingles and band buckets come off disk (built once per session,
    // Dedup.saveMinhashIndex) and only the incoming batch is shingled
    // fresh — bit-identical pairs to d07's online path, so the two
    // queries share one oracle. The artifact lifecycle the 100 TB
    // ingest gate actually runs (re-minhashing the resident corpus
    // per batch is the thing this exists to avoid).
    "d15_minhash_index" -> ((s, dir) =>
      Dedup.minhashPairsFromIndex(s, minhashIndexPath(s, dir),
        docs(s, dir).filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.7)),

    // Word-bigram repetition signals (Gopher/C4-style quality filters).
    "t08_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir))),

    // Canonical text normalization (regex pre-pass; identity on the
    // already-clean fixture is itself the oracle property).
    "t09_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(docs(s, dir)).select("doc_id", "norm_text")),

    // PII redaction (emails/IPs/phones → typed placeholders). The
    // fixture is digit-free so the pass is an identity here (like t09);
    // real scrubbing is unit-tested on synthetic dirty strings, and the
    // oracle applies the identical regexp chain.
    "t10_pii_scrub" -> ((s, dir) => TextAnalysis.scrubPii(docs(s, dir))),

    // Token statistics.
    "t01_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir))
        .select("doc_id", "n_tokens", "n_distinct", "ttr", "mean_token_len")),

    // Quality scoring.
    "t02_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir))
        .select("doc_id", "stopword_ratio", "quality")),

    // Language ID heuristic.
    "t03_langid" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir)).select("doc_id", "pred_lang")),

    // Quality-score CALIBRATION report (t55) — the reliability table a
    // shipped filter gets audited with: the t02 heuristic score binned
    // into deciles (floor(quality·10), capped into the top bin at
    // quality = 1.0) against the t03 'en' label, per bin the doc
    // count, positive count, exact 2⁻²⁰ fixed-point positive rate
    // (integer Euclidean split, the t54 discipline), and the exact
    // char mass the bin gates. Bin membership is a floor of a double
    // both engines compute bit-identically (t02's twin), so the table
    // is bit-exact, not pinned. One partial-agg'd groupBy on a
    // 10-value key over two row-local projections; nothing else moves
    // — at 100 TB this is one corpus scan.
    "t55_quality_calibration" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(
        TextAnalysis.languageId(docs(s, dir)))
      scored.select(
          least(floor(col("quality") * 10).cast("long"), lit(9L)).as("bin"),
          (col("pred_lang") === "en").cast("long").as("pos"),
          col("n_chars"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pos")).as("n_pos"),
          org.apache.spark.sql.functions.expr(
            "(sum(pos) div count(1)) * 1048576 + " +
              "((sum(pos) % count(1)) * 1048576) div count(1)")
            .as("pos_rate_fp"),
          sum(col("n_chars")).as("chars"))
    }),

    // Langid confusion matrix (t54): the per-class error report the
    // t03 heuristic ships with — one row per observed (truth,
    // predicted) pair with count and the exact 2^-20 fixed-point row
    // share (recall diagonal / leakage off-diagonal). One pair-keyed
    // partial agg + a classes-sized totals join; bit-exact twin.
    "t54_langid_confusion" -> ((s, dir) =>
      graft.ops.Classifier.confusionMatrix(
        TextAnalysis.languageId(docs(s, dir)), "lang", "pred_lang")),

    // Bag-of-words fingerprint.
    "t04_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).select("doc_id", "fingerprint")),

    // Corpus term document-frequency.
    "t05_term_doc_freq" -> ((s, dir) => TextAnalysis.termDocFreq(docs(s, dir))),

    // BPE-ish regex token statistics (trainer-facing token counts).
    "t13_bpe_tokens" -> ((s, dir) =>
      TextAnalysis.bpeTokenStats(docs(s, dir))
        .select("doc_id", "n_bpe", "n_bpe_distinct", "bpe_chars")),

    // Tokenizer fertility census (t53): per-language subword-per-word
    // fertility plus chars/token and bytes/token compression — the
    // tokenizer-eval table a multilingual release ships. One scan,
    // one languages-sized partial-agg groupBy; every ratio exact
    // 2^-20 fixed point via the Euclidean split division. Bit-exact
    // twin.
    "t53_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(docs(s, dir))),

    // TF-IDF: top-3 scored terms per document (deterministic ln/product
    // arithmetic, id tie-breaks).
    "t06_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopTerms(docs(s, dir), 3)),

    // Unigram-LM quality score (CCNet-style perplexity filter shape):
    // per-term ln rounds to 2^-20 fixed point BEFORE summation, so the
    // per-document totals are exact BIGINT arithmetic; the frequency
    // table broadcasts (vocabulary-scale), the token stream never
    // shuffles by content (TextAnalysis scale notes).
    "t19_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(docs(s, dir))),

    // Bigram-LM scoring (t19's order-sensitive refinement): same
    // fixed-point-before-sum determinism; the model table is
    // distinct-bigram-sized (broadcasts after the usual frequency
    // floor; shuffle-joins un-floored — TextAnalysis scale notes).
    "t25_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(docs(s, dir))),

    // CCNet perplexity-bucket corpus card (t56 — Wenzek et al. 2020:
    // per language, rank by t19's unigram mean log-prob and split
    // into head/middle/tail terciles; the card a curator reads before
    // choosing the head+middle training cut). Exact ntile form with a
    // full DuckDB twin (rank key = IEEE-divided mean desc + id asc, a
    // total order both engines realize identically; card aggregates
    // exact BIGINT). The sort-free production form is
    // ccnetBucketsSampled (sketch boundaries + comparison; OpsSpec
    // measures its tranche skew vs this exact card).
    "t56_ccnet_buckets" -> ((s, dir) =>
      TextAnalysis.ccnetBuckets(docs(s, dir))),

    // Temperature mixture (w_i ∝ √n_i, the XLM-R multilingual
    // sampling exponent): the plan when no hand-curated target
    // mixture exists. sqrt is correctly rounded (bit-stable across
    // engines) and each stratum's √n fixed-points before the exact
    // partition-function sum.
    "t29_mixture_temperature" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMixturePlan(
        docs(s, dir), "lang", size(split(col("text"), " ")))),

    // DoReMi-style LEARNED mixture (t47 — the one modern-pipeline
    // stage the mixture family lacked: t17 is hand-curated, t29
    // closed-form; this one ITERATES per-domain weights against
    // excess loss, proxy = t19 unigram LM vs reference = t25 bigram
    // LM, multiplicative-weights + uniform smoothing, all 2^-20
    // fixed point on the driver over <= |sources| = 20 rows).
    // Summary row: domain count, the exact-2^20 weight-mass
    // invariant, the weight extremes (spread > 0 = the loop really
    // moved mass toward high-excess domains), an order-independent
    // weight fingerprint (p03's bounded per-row hash sum), and the
    // total token budget. Pinned oracle (weights depend on
    // StrictMath.exp of fixed-point args — deterministic on the JVM,
    // not re-derivable in DuckDB); TrainPrepSpec holds the full-frame
    // equality against an independent in-memory reweighter.
    "t47_doremi_mixture" -> ((s, dir) => {
      val plan = graft.ops.Sampling.doremiReweight(docs(s, dir), "source")
      plan.agg(
        count(lit(1)).as("n_domains"),
        sum(col("weight_fp")).as("w_sum_fp"),
        min(col("weight_fp")).as("w_min_fp"),
        max(col("weight_fp")).as("w_max_fp"),
        sum(pmod(xxhash64(concat_ws(":", col("stratum"), col("weight_fp"))),
          lit(1000000007L))).as("w_hash"),
        sum(col("budget_tokens")).as("budget_total"))
    }),

    // The learned mixture EXECUTED (p08 — t47's plan materialized as
    // (doc, rep) training copies through the same executePlan kernel
    // t18 uses, closing the learn-then-materialize loop: floor(epochs)
    // whole copies per doc plus one md5-Bernoulli fractional copy, so
    // realized per-domain token mass tracks the LEARNED weights).
    // Deterministic end to end (the t47 weights are a pure integer
    // function of the corpus; the copy draw is the t18 md5 rule), so
    // the copy census pins: total copies, distinct docs, and an
    // order-independent (doc, rep) fingerprint.
    "p08_doremi_execute" -> ((s, dir) => {
      val d = docs(s, dir)
      val plan = graft.ops.Sampling.doremiReweight(d, "source")
      graft.ops.Sampling.executePlan(d, "source", "doc_id", plan)
        .agg(
          count(lit(1)).as("n_copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          sum(pmod(xxhash64(concat_ws(":", col("doc_id"), col("rep"))),
            lit(1000000007L))).as("copies_fp"))
    }),

    // Corpus drift (Jeffreys divergence of smoothed unigram
    // distributions between the even-id and odd-id document splits —
    // stand-ins for yesterday's and today's crawl): the ingest
    // drift monitor. Per-term contributions fixed-point before the
    // exact sum (t19 pattern).
    "t30_corpus_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.corpusDrift(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0))
    }),

    // Trained quality/domain classifier (fastText/CCNet shape): ridge
    // logistic regression over 64 hashed token buckets fit by
    // distributed IRLS, distilling the t03 language-ID rule (label:
    // pred_lang = en, ~25% positive) into a hashed linear model — the
    // CCNet pattern of training a fastText classifier on a labeling
    // rule and running the cheap model over the full crawl (accuracy
    // 91-93% vs the 70-78% majority rate at these SFs;
    // ClassifierSpec). Featurize is a shuffle-free projection done
    // once; each of the 6 Newton iterations is one scan + a
    // dim²-bounded partial-agg shuffle + a ≤(dim+1)(dim+4)/2-row
    // collect and a 65×65 driver Cholesky (Classifier scale notes).
    // Deterministic fixed-point trajectory, so the one-row summary
    // (incl. the weight-vector rolling hash) is pinnable per SF.
    // The declared query VERIFIES the persisted model artifact (one
    // scoring pass over the loaded fixed-point weights — bit-identical
    // to the in-memory trajectory, ClassifierSpec); training is the
    // session-memoized [[qualityModelPath]] build, timed as Bench's
    // own t31_model_build phase (the n01 build/verify split).
    "t31_quality_classifier" -> ((s, dir) =>
      graft.ops.Classifier.modelSummary(
        TextAnalysis.languageId(docs(s, dir)), qualityModel(s, dir),
        col("pred_lang") === "en")),

    // Multiclass language classifier (the 5-way form of t31): one-vs-
    // rest ridge logistic over the shared hashed feature space,
    // trained with the Bohning-Lindsay bounded-curvature method — the
    // X'X/4 curvature matrix is computed ONCE (class- and iteration-
    // independent) and every iteration is a single light gradient scan
    // for ALL classes; prediction is first-position argmax of the
    // per-class margins. Distills t03's 5-way argmax rule at ~87%
    // agreement (majority class ~30%; the exact-feature headroom is
    // ~93% — the gap is hash collisions in the fixture's unusually
    // tiny 31-term vocabulary, where one merged marker pair costs
    // points; dim is the knob, 2^18 at web scale). Deterministic
    // fixed point, so the summary (incl. the all-weights rolling
    // hash) pins per SF.
    "t32_multiclass_langid" -> ((s, dir) =>
      graft.ops.Classifier.multiclassSummary(
        TextAnalysis.languageId(docs(s, dir)), col("pred_lang"),
        TextAnalysis.langProfiles.map(_._1), dim = 256)),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // A-Res): 50 documents drawn ∝ token count — the
    // sample-∝-tokens primitive of a training-mix builder. Selection
    // key fixed-points before ranking (Sampling scale notes:
    // TakeOrdered, no window).
    "t38_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
        docs(s, dir).withColumn("n_tokens",
          size(split(col("text"), " ")).cast("long"))
          .select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 50)),

    // Wide-to-long melt via Dataset.unpivot — the inverse of q24's
    // pivot and the one reshaping verb that family still lacked. A
    // pure Expand projection (each row fans to |measures| rows, zero
    // shuffle); values pass through untouched, so the twin is
    // bit-exact.
    "q38_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")),

    // Gopher quality rules (Rae et al., MassiveText A1.1) — the
    // faithful named rule set with per-rule evidence, vs t02's blended
    // heuristic. Stop list adapted to the fixture register (Gopher's
    // English list shares only 'the' with the 31-word vocabulary —
    // the rule would measure the list, not the corpus). Pure
    // projection, zero exchanges (t33's shape).
    // Compression-ratio quality census — the cheap Kolmogorov proxy
    // (TextAnalysis.compressionStats: per-doc DEFLATE bytes over a
    // reused per-partition native stream, shuffle-free): corpus-level
    // counts of the two filter tails (ratio < 0.25 = repetitive/
    // templated, > 0.75 = near-incompressible junk) plus the exact
    // compressed byte mass. Deterministic per zlib build (the JDK
    // bundles its own) — the pinned summary is the change detector.
    "t39_compression" -> ((s, dir) => {
      val c = TextAnalysis.compressionStats(docs(s, dir))
      c.agg(count(lit(1)).as("n_docs"),
        sum(col("n_comp")).as("sum_comp"),
        sum((col("ratio_fp") < 262144L).cast("long")).as("n_repetitive"),
        sum((col("ratio_fp") > 786432L).cast("long")).as("n_incompressible"))
    }),

    "t37_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir),
        stopWords = Seq("the", "a", "of", "and", "in"))),

    // Gopher repetition-removal rules (Rae et al. A1.2) — the faithful
    // WITHIN-document n-gram rule set (t08 is the blended bigram
    // heuristic, the t02-vs-t37 relationship): per doc the exact
    // BIGINT char mass of the top 2/3/4-gram (occurrence semantics)
    // and of duplicated 5–10-gram coverage (overlaps counted once),
    // plus the paper's integer-arithmetic keep decision. Zero
    // exchanges — repetition is a within-row property.
    "t42_repetition_rules" -> ((s, dir) =>
      TextAnalysis.repetitionRules(docs(s, dir))),

    // Gopher repetition-removal rules, LINE/PARAGRAPH half (Rae et al.
    // A1.2's structural complement of t42): duplicate-after-first line
    // and paragraph counts + char mass + the paper's four integer
    // threshold rules. The fixture is single-line, so the declared
    // query reflows each document DETERMINISTICALLY (2-token lines,
    // 4-line paragraphs — a pure projection both engines replicate
    // token-for-token); at sf0.01 181/500 docs carry nonzero
    // duplicate-line mass, so the metrics are genuinely exercised
    // while the generous Gopher thresholds keep everything — the
    // honest paper behavior on non-boilerplate text. Zero exchanges.
    "t43_gopher_lines" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val lines = transform(
        sequence(lit(0), ceil(size(toks) / lit(2.0)).cast("int") - 1),
        i => concat_ws(" ", slice(toks, i * 2 + 1, lit(2))))
      val paras = transform(
        sequence(lit(0), ceil(size(col("ls")) / lit(4.0)).cast("int") - 1),
        j => concat_ws("\n", slice(col("ls"), j * 4 + 1, lit(4))))
      TextAnalysis.lineDupRules(
        docs(s, dir)
          .withColumn("ls", lines)
          .withColumn("text", concat_ws("\n\n", paras))
          .select("doc_id", "text"))
    }),

    // C4 bad-words gate (blocklist document filter): per doc the
    // total/distinct blocklisted-token hits plus the C4 keep decision.
    // The bounded dictionary folds into the projection as a literal
    // array — zero exchanges, zero joins (PlanSpec pins it).
    "t33_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistFlags(docs(s, dir),
        Seq("spark", "vector", "scan"))),

    // Stupid-backoff trigram LM scoring (Brants et al.) — the
    // deliberately NON-broadcast LM scale path: the model-score table
    // carries no broadcast hint (web-scale trigram tables cannot
    // broadcast; Catalyst picks the join physically). minCount=2
    // floors the tri/bigram tables so all three backoff branches are
    // real on the fixture; fixed-point-before-sum determinism (t19).
    "t34_backoff_trigram" -> ((s, dir) =>
      TextAnalysis.backoffTrigramLogProb(docs(s, dir))),

    // Unigram-LM tokenizer training (Kudo/SentencePiece, deterministic
    // hard-EM: exact counts, 2^-20 fixed-point log probs, total
    // tie-breaks — UnigramTokenizer scaladoc). Corpus touched once;
    // seeding and EM rounds run on the distinct-word table. The vocab
    // is a pure function of the corpus, summarized as piece count,
    // total usage mass, and a rolling hash over the canonical
    // piece-asc "piece:count:lp;" list; TrainPrepSpec equality-checks
    // the full table against an independent in-memory trainer.
    "t35_unigram_vocab" -> ((s, dir) => {
      val vocab = unigramPieces(s, dir)
      val fp = vocab.foldLeft(0L) { (h, r) =>
        (r.getString(0) + ":" + r.getLong(1) + ":" + r.getLong(2) + ";")
          .foldLeft(h)((hh, c) => (hh * 31 + c.toInt) % 1000000007L)
      }
      import s.implicits._
      Seq((vocab.length.toLong, vocab.map(_.getLong(1)).sum, fp))
        .toDF("n_pieces", "total_count", "vocab_fp")
    }),

    // Viterbi encoding under the t35 vocabulary (the tokenizer-apply
    // half, t28's lifecycle for the unigram model): shuffle-free
    // mapPartitions kernel, broadcast pieces, per-partition word memo.
    "t36_unigram_encode" -> ((s, dir) => {
      val vocab = unigramPieces(s, dir)
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      val enc = graft.ops.UnigramTokenizer.encode(docs(s, dir), vocab)
        .localCheckpoint(true)
      val tot = enc
        .agg(count(lit(1)).as("n_docs"), sum(col("n_pieces")).as("total_pieces"))
        .head()
      val voc = enc.select(explode(col("pieces")).as("p"))
        .agg(count_distinct(col("p"))).head().getLong(0)
      // Both consumers above are materialized; release through the
      // bridge — Dataset.unpersist alone never reaches a
      // localCheckpoint's blocks (the CacheManager never saw them).
      graft.core.Checkpoints.release(enc)
      import s.implicits._
      if (tot.getLong(0) == 0L)
        Seq((0L, 0L, 0L)).toDF("n_docs", "total_pieces", "n_vocab")
      else Seq((tot.getLong(0), tot.getLong(1), voc))
        .toDF("n_docs", "total_pieces", "n_vocab")
    }),

    // End-to-end TOKENIZER pipeline (the p02 pattern for the tokenize-
    // and-pack stage every pretraining run ends with): Viterbi-encode
    // the corpus under the session-trained t35 vocabulary, pack the
    // PIECE stream into 256-piece chunks (distributed prefix sum),
    // and emit the chunk manifest. Deterministic end to end, so the
    // one-row summary (chunks / docs / piece mass / manifest rolling
    // hash) pins per SF. Each stage is its own declared scale path
    // (t35/t36/t11/t15).
    "p03_tokenize_pack" -> ((s, dir) => {
      val vocab = unigramPieces(s, dir)
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      val enc = graft.ops.UnigramTokenizer.encode(docs(s, dir), vocab)
        .select(col("doc_id"), col("n_pieces").cast("long").as("n_pieces"))
      val man = Packing.chunkManifest(
        Packing.packChunks(enc, "doc_id", "n_pieces", 256), "doc_id", 256)
      // Order-independent exact fingerprint (sum of bounded per-row
      // hashes) so the manifest — O(total_pieces/budget) rows — never
      // reaches the driver; the summary aggregates distributively.
      man.agg(
          count(lit(1)).as("n_chunks"),
          sum(col("n_docs")).as("doc_slots"),
          sum(col("n_tokens")).as("total_pieces"),
          sum(pmod(xxhash64(concat_ws(",", col("chunk_id"), col("n_docs"),
            col("first_doc"), col("last_doc"), col("n_tokens"))),
            lit(1000000007L))).as("manifest_fp"))
    }),

    // Corpus attrition funnel — the per-stage drop accounting every
    // dataset release publishes (Dolma's attrition tables: which gate
    // dropped how much). Chains decontaminate -> Gopher rules ->
    // per-source quantile cut -> exact dedup over the SURVIVOR set of
    // the previous stage and emits (stage, n_in, n_out, n_dropped).
    // Each stage is its own declared scale path (d09/t37/t27/d01);
    // the funnel adds only bounded survivor-id joins and four counts.
    "p04_attrition" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 20 === 0)
      val corpus = d.filter(col("doc_id") % 20 =!= 0)
      val n0 = corpus.count()
      val s1 = Decontaminate.overlapCounts(corpus, bench, "doc_id", "text")
        .filter(col("n_contaminated") === 0).select("doc_id")
        .localCheckpoint(true)
      val n1 = s1.count()
      val s2 = TextAnalysis
        .gopherRules(d, stopWords = Seq("the", "a", "of", "and", "in"))
        .filter(col("kept") === 1).select("doc_id")
        .join(s1, Seq("doc_id")).localCheckpoint(true)
      val n2 = s2.count()
      val scored = TextAnalysis.qualityScore(d)
        .select(col("doc_id"), col("source"), col("quality"))
        .join(s2, Seq("doc_id"))
      val s3 = graft.ops.Sampling
        .quantileFilter(scored, "doc_id", "source", "quality", 0.25)
        .filter(col("keep")).select("doc_id").localCheckpoint(true)
      val n3 = s3.count()
      val n4 = d.join(s3, Seq("doc_id"))
        .groupBy("text").agg(min(col("doc_id")).as("doc_id")).count()
      // Every count above is already taken; release the stage
      // checkpoints (via the bridge — bare unpersist is a CacheManager
      // no-op on localCheckpoints) so repeated invocations don't
      // accumulate blocks.
      Seq(s1, s2, s3).foreach(graft.core.Checkpoints.release)
      import s.implicits._
      Seq(("1_decontaminate", n0, n1), ("2_gopher_rules", n1, n2),
          ("3_quality_quantile", n2, n3), ("4_exact_dedup", n3, n4))
        .toDF("stage", "n_in", "n_out")
        .withColumn("n_dropped", col("n_in") - col("n_out"))
    }),

    // Dolma-style full-pipeline composition card (p13) — the corpus
    // card a released dataset ships (Soldaini et al. 2024's per-stage
    // attrition table): gopher quality rules -> NEAR-dup survivors
    // (LSH candidate generation + exact verify + connected components
    // — the corpus-scale path; p04's dedup stage is the exact-text
    // form, this is the shingled one) -> benchmark decontamination ->
    // temperature mixture, each stage reported with BOTH doc and
    // whitespace-token attrition, then one row per mixture stratum
    // carrying its allocated token budget (Σ budgets ≈ surviving
    // tokens within fixed-point rounding — the conservation a reader
    // checks first). Pure composition of shipped operators — zero new
    // kernels; every stage is the operator the standalone query
    // already proves (t37/d06/d09/t29), so the full DuckDB twin is
    // their CTEs chained. The card itself is bounded (4 + |langs|
    // rows) and computed eagerly so the stage checkpoints release
    // before return (p04's discipline).
    "p13_dolma_card" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val toks = size(split(col("text"), " ")).cast("long")
      val corpus = d.filter(col("doc_id") % 20 =!= 0).localCheckpoint(true)
      val bench = d.filter(col("doc_id") % 20 === 0)
      val kept = corpus.join(TextAnalysis.gopherRules(corpus,
            stopWords = Seq("the", "a", "of", "and", "in"))
          .filter(col("kept") === 1).select("doc_id"), Seq("doc_id"))
        .localCheckpoint(true)
      val surv = kept.join(
        Dedup.clusterNearDups(kept, "doc_id", "text", 0.7, useLsh = true)
          .filter(col("keep") === 1).select(col("id").as("doc_id")),
        Seq("doc_id")).localCheckpoint(true)
      val fin = surv.join(
        Decontaminate.overlapCounts(surv, bench, "doc_id", "text")
          .filter(col("n_contaminated") === 0).select("doc_id"),
        Seq("doc_id")).localCheckpoint(true)
      def stat(name: String, df: DataFrame): (String, Long, Long) = {
        val r = df.agg(count(lit(1)), coalesce(sum(toks), lit(0L))).head()
        (name, r.getLong(0), r.getLong(1))
      }
      val mix = graft.ops.Sampling.temperatureMixturePlan(fin, "lang", toks)
        .select(concat(lit("4_mix_"), col("stratum")), col("n_docs"),
          col("budget_tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val rows = Seq(stat("0_corpus", corpus), stat("1_gopher", kept),
        stat("2_neardup", surv), stat("3_decon", fin)) ++ mix
      Seq(corpus, kept, surv, fin).foreach(graft.core.Checkpoints.release)
      rows.toDF("stage", "n_docs", "n_tokens")
    }),

    // Coreset-balanced subsampling pipeline (p05): the s18 k-center
    // assignment used as SEMANTIC STRATA for the q30 stratified
    // sampler — "take <= 25 per covering region", the embedding-space
    // balance pass a pretraining mix runs so dense regions can't
    // crowd out sparse ones (the k-center guarantee makes the strata
    // cover the corpus within 2x the optimal radius; md5-draw
    // selection keeps the subsample deterministic). Composition of
    // two shipped operators — zero new kernels; the summary pins the
    // whole selection: per-stratum cap conservation, the exact id
    // mass of the picked set, and the min/max stratum fill (the
    // balance evidence: uniform sampling at this rate would draw
    // ~N/8 per region; the cap binds every dense region to 25).
    "p05_coreset_balance" -> ((s, dir) => {
      val e = emb(s, dir)
      val asn = graft.ops.Coreset.assign(e, kcenterCenters(s, dir))
      // The SALTED sampler: 8 strata is the maximally-hot case for a
      // stratum-partitioned window (8 tasks would each sort a whole
      // covering region at 100 TB); the salted two-phase form ranks
      // (stratum × 16 salts) locally then re-ranks the <= 16·25
      // survivors per stratum — selection-identical (top-n by
      // (draw, id) is associative through the phases; the pins prove
      // it), parallelism restored.
      val picked = graft.ops.Sampling
        .stratifiedSampleSalted(asn, "center_id", "id", 25)
      val fills = picked.groupBy("center_id").agg(count(lit(1)).as("c"))
        .agg(min(col("c")).as("min_fill"), max(col("c")).as("max_fill"),
          count(lit(1)).as("n_strata"))
      picked.agg(count(lit(1)).as("n_picked"), sum(col("id")).as("ids_fp"))
        .crossJoin(fills)
    }),

    // Centrality-ranked corpus selection (p06): n12's PageRank over
    // the serving graph used as the QUALITY axis for the t22
    // token-budget selector — "spend the token budget on the most
    // REPRESENTATIVE documents", closing the loop Centrality's
    // scaladoc promises (rank is the global representativeness signal
    // coreset-selection pipelines rank by). Pure composition of two
    // shipped operators (the p05 precedent — zero new kernels): ranks
    // are exact BIGINT fixed point and the selector's order key is
    // (rank desc, id asc), so the whole selection is bit-deterministic
    // and the summary pins exactly: corpus size (graph nodes with a
    // document row), kept count, picked token mass (the budget
    // conservation: <= 10000 by construction, pinned at its exact
    // landing point), picked rank mass, the rank threshold (the cut
    // line — min rank among kept), and the picked id mass.
    "p06_central_select" -> ((s, dir) => {
      val pr = graft.ops.Centrality.pageRank(
        knnGraph(s, dir).select("id", "neighbors"), iterations = 10)
      val toks = docs(s, dir).select(col("doc_id").as("id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val scored = pr.join(toks, "id")
      val sel = graft.ops.Sampling
        .selectByBudget(scored, "id", "rank", "n_tokens", 10000L)
        .join(pr, "id")
      sel.agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("kept") * col("n_tokens")).as("picked_tokens"),
        sum(col("kept") * col("rank")).as("picked_rank_mass"),
        min(when(col("kept") === 1L, col("rank"))).as("rank_threshold"),
        sum(col("kept") * col("id")).as("ids_fp"))
    }),

    // Corpus snapshot diff (versioned-release delta): v1 = ids not
    // divisible by 3, v2 = ids not divisible by 5 with the text of
    // ids divisible by 7 edited — the four statuses all occur. The
    // full-outer join moves only (id, md5) manifests, never text.
    "d16_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val v1 = d.filter(col("doc_id") % 3 =!= 0)
      val v2 = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Dedup.corpusDiff(v1, v2, "doc_id", "text")
    }),

    // Per-source quantile quality cut: keep docs at/above their
    // source's p25 quality — the per-domain RELATIVE filter (an
    // absolute cut over-prunes clean domains and under-prunes noisy
    // ones). Exact discrete order statistic (an element, not an
    // interpolation), so the twin is bit-exact.
    "t27_quantile_filter" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(docs(s, dir))
        .select(col("doc_id"), col("source"), col("quality"))
      graft.ops.Sampling.quantileFilter(scored, "doc_id", "source", "quality", 0.25)
        .select(col("doc_id"), col("source"), col("quality"), col("thr"),
          col("keep").cast("long").as("keep"))
    }),

    // BPE merge training (learns the top-20 merge rules; corpus
    // touched once, merge rounds run on the vocabulary-sized word
    // table). The rule list is a deterministic pure function of the
    // corpus (integer counts, total argmax order), summarized for the
    // pinned oracle as rule count, total pair mass, and a rolling
    // hash of the ordered rules; the full list is equality-checked
    // against an independent in-memory trainer in TrainPrepSpec.
    "t26_bpe_merges" -> ((s, dir) => {
      val rules = bpeRules(s, dir)
      val fp = rules.foldLeft(0L) { (h, r) =>
        (r.getString(1) + ">" + r.getString(2) + ";")
          .foldLeft(h)((hh, c) => (hh * 31 + c.toInt) % 1000000007L)
      }
      import s.implicits._
      Seq((rules.length.toLong, rules.map(_.getLong(3)).sum, fp))
        .toDF("n_rules", "total_count", "rules_fp")
    }),

    // BPE ENCODING with the t26-trained rules (the apply half of the
    // tokenizer lifecycle; rules shared through the session artifact
    // memoizer — train once, encode many). One shuffle-free projection
    // over the corpus; summary pinned: document count, total piece
    // count, and the post-merge piece vocabulary size.
    "t28_bpe_encode" -> ((s, dir) => {
      val rules = bpeRules(s, dir).map(r => (r.getString(1), r.getString(2))).toSeq
      // Checkpoint before the two aggregations: without it each one
      // re-runs the whole encode kernel. Both results are single rows,
      // so materialize eagerly and drop the reference (the context
      // cleaner reclaims the blocks).
      val enc = TextAnalysis.bpeEncode(docs(s, dir), rules).localCheckpoint(true)
      val tot = enc
        .agg(count(lit(1)).as("n_docs"), sum(col("n_pieces")).as("total_pieces"))
        .head()
      val voc = enc.select(explode(col("pieces")).as("p"))
        .agg(count_distinct(col("p"))).head().getLong(0)
      // Both consumers above are materialized; release through the
      // bridge — Dataset.unpersist alone never reaches a
      // localCheckpoint's blocks (the CacheManager never saw them).
      graft.core.Checkpoints.release(enc)
      import s.implicits._
      if (tot.getLong(0) == 0L) Seq((0L, 0L, 0L)).toDF("n_docs", "total_pieces", "n_vocab")
      else Seq((tot.getLong(0), tot.getLong(1), voc))
        .toDF("n_docs", "total_pieces", "n_vocab")
    }),

    // Duplicated-span mass (Lee et al. intra-corpus dedup signal): per
    // document, its distinct trigram spans shared with >=1 OTHER
    // document. Span df partial-aggs over 8-byte keys; only the
    // df>=2 sliver joins back (Dedup scale notes).
    "d12_dupspan_stats" -> ((s, dir) =>
      Dedup.dupSpanStats(docs(s, dir), "doc_id", "text")),

    // RAG chunking: overlapping 64-token windows at stride 32 — a pure
    // shuffle-free projection whose cost is exactly the emitted token
    // volume (TextAnalysis scale notes).
    "t20_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(docs(s, dir))),

    // Streaming twin of t20: the same stateless chunker applied at
    // ingest (append mode, zero streaming state) — shares t20's
    // bit-exact oracle.
    "st11_stream_chunks" -> ((s, dir) =>
      graft.streaming.EventsStream.chunkCounts(s, dir)),

    // BM25 top-20 retrieval for a fixed 3-term query — the sparse
    // complement to the dense ANN serving family. Postings are cut to
    // the query's terms before any shuffle; the top-k is
    // TakeOrderedAndProject, never a global sort (TextAnalysis scale
    // notes). Per-term scores fixed-pointed (t19 pattern) so the
    // DuckDB twin is bit-exact.
    "t21_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), bm25Query)),

    // Hybrid retrieval: RRF fusion of a dense top-20 (exact cosine for
    // query vec 0 — doc and vec ids share the id space) with the t21
    // sparse BM25 top-20. Rank-based, so no score calibration crosses
    // the retriever boundary; contributions fixed-pointed before the
    // Long sum (Retrieval scale notes).
    "t23_hybrid_rrf" -> ((s, dir) => {
      val e = emb(s, dir)
      val dense = SimilaritySearch.bruteForceTopK(e, e.filter(col("id") === 0), 20)
        .select(col("nbr_id").as("doc_id"), col("rank"))
      // partitionBy(lit(1)): the frame is bm25TopK's already-limit(20)
      // output, so the single-partition sort is bounded at k rows; the
      // constant partition key says so to the planner and silences the
      // "No Partition Defined" warning.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("score_fp").desc, col("doc_id").asc)
      val sparse = TextAnalysis.bm25TopK(docs(s, dir), bm25Query)
        .select(col("doc_id"), row_number().over(w).as("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(dense, sparse))
    }),

    // Ranked-retrieval evaluation (t50): MRR@10 / nDCG@10 of the st13
    // BM25 more-like-this serve (batch re-derivation — same impact
    // index, same rank cut) against token-overlap pseudo-qrels
    // (docs sharing >= 20 distinct terms with the query doc). All
    // rank discounts are driver-computed fixed-point literals shared
    // with the twin, every sum is a BIGINT add of pre-quantized terms
    // (the t19 discipline), and nDCG's division is integer `div` —
    // bit-exact end to end. Exercises the zero-rel path in production:
    // query 0 has no >= 20-overlap doc at sf0.001/0.01 (its rr/dcg/
    // ndcg read 0), while sf0.1 flips which queries are covered.
    "t50_ranked_eval" -> ((s, dir) =>
      graft.ops.Retrieval.rankedEval(t50Run(s, dir),
        t50Overlap(s, dir).filter(col("shared") >= 20)
          .select("query_id", "doc_id"), 10)),

    // Graded-relevance ranked evaluation (t51): the TREC qrels shape —
    // rel 2 for >= 24 shared distinct tokens, rel 1 for >= 20 — over
    // the same BM25 run as t50. nDCG gains scale the SAME fixed-point
    // discount table by exact integers (2^rel - 1), the ideal ranking
    // places grades descending (doc tie-break), and the binary metrics
    // (rr/ap, relevant = rel > 0) come from rankedEval itself, so the
    // two exhibits share every literal and the graded columns are the
    // only new math. Bit-exact twin.
    "t51_graded_eval" -> ((s, dir) =>
      graft.ops.Retrieval.rankedEvalGraded(t50Run(s, dir),
        t50Overlap(s, dir).withColumn("rel",
          when(col("shared") >= 24, 2).when(col("shared") >= 20, 1)
            .otherwise(0)), 10)),

    // Soft-dedup reweighting (SoftDedup, He et al. ACL 2024 — the
    // reweight-don't-drop alternative to destructive dedup): every doc
    // gets an exact 2^-20 fixed-point weight 2^20 div |near-dup
    // cluster| over the audited d06 component assignment, so k copies
    // of one page carry one copy's total mass without the hard-dedup
    // cliff. All-integer metric; bit-exact twin reusing d06's
    // component CTE.
    "t52_soft_dedup" -> ((s, dir) =>
      graft.ops.Sampling.softDedupWeights(docs(s, dir), "doc_id", "text",
        0.7)),

    // DSIR importance selection: top-100 docs by the fixed-point log
    // importance ratio of the en-language target distribution vs the
    // full corpus, over 256 md5-hashed token buckets. One token-stream
    // pass builds both distributions; the log-ratio table broadcasts;
    // the top-n is TakeOrdered (Sampling scale notes).
    "t24_dsir_select" -> ((s, dir) =>
      graft.ops.Sampling.dsirSelect(docs(s, dir), col("lang") === "en")),

    // Token-budget corpus selection: greedy best-first under a
    // 20k-token budget over the t02 quality score — distributed rank +
    // prefix sum, never a single-task window (Sampling scale notes).
    "t22_budget_select" -> ((s, dir) =>
      graft.ops.Sampling.selectByBudget(
        TextAnalysis.qualityScore(docs(s, dir))
          .select(col("doc_id"), col("quality"),
            size(split(col("text"), " ")).as("n_tokens")),
        "doc_id", "quality", "n_tokens", 20000L)),

    // Exact ANN baseline: brute-force cosine top-10 for 20 query vectors
    // (ids+ranks only; rank-boundary gaps >> float error, see tests).
    "s01_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.bruteForceTopK(e, e.filter(col("id") < 20), 10)
        .select("query_id", "rank", "nbr_id")
    }),

    // Hard-negative mining (s19, the DPR/ANCE contrastive-training
    // recipe): per anchor the top-5 most-similar DIFFERENT-label
    // points — close in embedding space, wrong by supervision.
    // Ids+ranks only (the s01 float-parity convention); exact form at
    // fixture scale, with the documented over-retrieve-and-filter ANN
    // recipe as the 100 TB path (OpsSpec pins their equivalence).
    "s19_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("features"), col("label"))
      SimilaritySearch.hardNegatives(e, e.filter(col("id") < 20), 5)
        .select("query_id", "rank", "nbr_id")
    }),

    // s19's 100 TB PATH as its own declared exhibit (the s01<->s04
    // pattern): hard negatives mined through the IVF front —
    // over-retrieve top-25 per anchor, drop same-label hits, keep the
    // 5 best-ranked — with recall pinned against the exact fused form.
    // The only approximation is the IVF front's own (the recipe is
    // proven exact at full depth in OpsSpec); the label filter and
    // re-rank are id-deterministic. Pinned 0.84-0.87: squarely the
    // 32/16 IVF geometry's own floor on the isotropic fixture (s04
    // pins ~0.85 at the same settings) — s20b serves the SAME recipe
    // through the stronger graph front and clears 0.9, so a mining
    // pipeline picks its front by the recall it needs.
    "s20_hard_negatives_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("features"), col("label"))
      val q = e.filter(col("id") < 20)
      recallCounts(
        minedNegatives(e, SimilaritySearch.ivfTopK(e, q, 25)),
        SimilaritySearch.hardNegatives(e, q, 5))
    }),

    // The s20 recipe through the GRAPH front (n01's memoized serving
    // graph, s03's beam parameters): over-retrieve top-25 per anchor
    // via beam search, drop same-label hits, keep the 5 best-ranked.
    // Same id-deterministic filter+re-rank (shared [[minedNegatives]]
    // scaffold — the two exhibits differ ONLY in the front), but the
    // graph serve holds ~0.96 recall where the 32/16 IVF floors at
    // ~0.85 on this isotropic fixture, so the mined set clears the
    // ANN family's 0.9 bar. At 100 TB the trade is the usual one:
    // the graph front costs an NND build (n01, amortized across
    // serves) while IVF costs one k-means + one cell shuffle.
    "s20b_hard_negatives_graph" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("features"), col("label"))
      val q = e.filter(col("id") < 20)
      val g = knnGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      recallCounts(
        minedNegatives(e, graft.ops.GraphSearch.searchGraph(
          g, e, q, k = 25, beam = 32, hops = 4, seeds = 16)),
        SimilaritySearch.hardNegatives(e, q, 5))
    }),

    // Exact MIPS top-10 (two-tower retrieval scoring: raw inner
    // product, not angle — longer item vectors legitimately rank
    // higher). Ids+ranks only, same rank-margin argument as s01.
    "s06_mips_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.mipsTopK(e, e.filter(col("id") < 20), 10)
        .select("query_id", "rank", "nbr_id")
    }),

    // LSH ANN (bucketed scale path): pinned recall summary vs the s01
    // brute-force ground truth — hits/total over the 20 fixed queries.
    // The construction is seeded and deterministic, so the counts are a
    // fixed per-fixture fact, pinned in the oracle (change detector).
    "s02_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.lshTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // MMR result diversification (Carbonell & Goldstein '98) — the
    // retrieval family's post-processing step: the exact top-50 pool
    // per fixed query re-ranked to 10 with λ=0.7 relevance/redundancy
    // trade-off (Retrieval.mmrDiversify: fixed-point λ-algebra,
    // per-query-bounded greedy). Summary pins the overlap with the
    // plain relevance top-10 — strictly below 200 = diversification
    // really displaced redundant hits (OpsSpec keeps the λ=1 exact
    // reduction and pairwise-similarity-drop properties).
    "s17_mmr_diversify" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      // The pool is checkpointed (1000 tiny rows) and serves BOTH
      // consumers: its rank<=10 prefix IS the brute top-10 (same
      // ordering, superset), so the corpus-sized scoring pass runs
      // once, not three times (mmr + reference + lineage replay).
      val pool = SimilaritySearch.bruteForceTopK(e, q, 50).localCheckpoint()
      recallCounts(
        graft.ops.Retrieval.mmrDiversify(pool, e, k = 10, m = 50),
        pool.filter(col("rank") <= 10))
    }),

    // K-center greedy coreset (s18, Gonzalez 1985 farthest-point
    // traversal / Sener-Savarese 2018 coreset selection): the GLOBAL
    // diversity guarantee the query-relative MMR (s17) and the
    // list-local occlusion rule (n08) don't give — 8 centers within 2×
    // of the optimal covering radius, every corpus point provably
    // inside it. Fully deterministic (first center = min id; each
    // round argmax distance, tie min id; no accumulated floats), so
    // the pins are exact facts: center count, the selection-order
    // fingerprint Σ(round+1)·id, the max selection distance (round 1's
    // pick — the farthest point from the min-id seed), the exact
    // covering radius from the zero-shuffle assignment projection, and
    // the heaviest center's load. t−1 corpus scans + 1-row argmaxes;
    // the assignment is one literal-folded projection (SCALE.md).
    "s18_kcenter" -> ((s, dir) => {
      val e = emb(s, dir)
      val centers = kcenterCenters(s, dir)
      val asn = graft.ops.Coreset.assign(e, centers)
      val cagg = centers.agg(
        count(lit(1)).as("n_centers"),
        sum((col("round") + 1) * col("id")).as("centers_fp"),
        max(col("sel_dist_fp")).as("max_sel_fp"))
      val cov = asn.agg(max(col("dist_fp")).as("radius_fp"))
      val load = asn.groupBy("center_id").agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_load"))
      cagg.crossJoin(cov).crossJoin(load)
    }),

    // Multimodal: binary media column + stub decode (metadata only —
    // deterministic byte-derived dims so the full decode path is
    // oracle-checkable).
    "m01_media_meta" -> ((s, dir) =>
      Multimodal.decode(Multimodal.asMedia(docs(s, dir)))
        .toDF().select("doc_id", "media_size", "width", "height")),

    // Multimodal: frame sampling over the binary column.
    "m02_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.asMedia(docs(s, dir)))),

    // Multimodal: pixel resize over the raw blobs — real ImageIO +
    // Graphics2D resample for image bytes, deterministic stub-dims
    // fallback for blobs no codec claims (the text fixture), so the
    // oracle-checked dimension columns are fixture-stable either way.
    "m03_resize" -> ((s, dir) =>
      Multimodal.resizeMedia(Multimodal.asMedia(docs(s, dir)))
        .toDF().select("doc_id", "width", "height", "new_w", "new_h")),

    // Multimodal: 64-bit aHash perceptual fingerprint (8×8 luminance
    // grid thresholded against the grid total for real images; the
    // deterministic first-64-bytes stub for the text fixture, which is
    // what the SQL twin mirrors — the REAL path is pinned by in-test
    // PNG rendering).
    "m04_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(Multimodal.asMedia(docs(s, dir)))),

    // Multimodal: image near-dup pairs at phash hamming <= 3, exact by
    // 16-bit-block banding (pigeonhole: <=3 flipped bits leave >=1 of 4
    // blocks equal) — the image-dedup primitive.
    "m05_phash_pairs" -> ((s, dir) =>
      Multimodal.phashPairs(Multimodal.asMedia(docs(s, dir)), 3)),

    // Image near-dup CLUSTERS: m05's banded phash pairs closed into
    // connected components (pointer doubling, the d06 machinery) with
    // min-id survivors — the image-side dedup endpoint (pairs are
    // evidence; clusters are what a curation pass acts on).
    "m06_phash_clusters" -> ((s, dir) => {
      val pairs = Multimodal.phashPairs(Multimodal.asMedia(docs(s, dir)), 3)
        .select("doc_a", "doc_b")
      graft.ops.Components.connectedComponents(
          docs(s, dir).select(col("doc_id")), pairs)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).cast("int").as("keep"))
    }),

    // Multimodal: multi-frame PIXEL decode (m07) — real animated-GIF
    // frame decoding via the JVM-bundled ImageIO plugin (per sampled
    // frame: true dims + mean luminance in 2^-20 fixed point), with
    // the deterministic byte-chunk stub for containers no JVM codec
    // claims. The text fixture exercises the stub bit-exactly against
    // the SQL twin (the m03/m04 convention); the REAL multi-frame
    // path is pinned by an in-test ImageIO-written 3-frame GIF in
    // OpsSpec. Zero exchanges — one mapPartitions projection + a
    // bounded per-row explode.
    "m07_anim_frames" -> ((s, dir) =>
      Multimodal.animationFrames(Multimodal.asMedia(docs(s, dir)))),

    // WARC-shaped crawl ingest (m08): the documents fixture URL-ified
    // (t48 surface forms) and HTML-ified (the t46 reflow), serialized
    // into Content-Length-framed WARC/1.0 segment files (doc_id div 50
    // — one ~50-record file per segment, the m01-m07 binary precedent
    // one level up: a whole CONTAINER, not one blob per row), then
    // parsed back by the byte-cursor kernel. The census pins the
    // round-trip bit-exactly: record/file counts, byte mass, distinct
    // URLs, and order-independent md5 fingerprints of every payload
    // and URL — the twin computes the same numbers STRAIGHT from the
    // documents table (no WARC model in SQL), so any framing or
    // parsing defect that moves a byte moves a fingerprint.
    "m08_warc_census" -> ((s, dir) =>
      warcCensus(graft.ops.Warc.parseRecords(
        graft.ops.Warc.buildFiles(warcRecs(s, dir))).toDF())),

    // Streaming WARC ingest (st28): the m08 segments materialized as
    // REAL files and tailed through the binaryFile file source in
    // bounded micro-batches, each parsed by the stateless m08 kernel
    // in foreachBatch — per-FILE independence makes the drained
    // record set equal the batch parse under any file-to-batch
    // assignment, so st28 shares m08's bit-exact census twin verbatim
    // (single-source WarcCensusOracle).
    "st28_warc_ingest_serve" -> ((s, dir) =>
      warcCensus(graft.streaming.EventsStream.warcIngestServe(
        s, graft.ops.Warc.buildFiles(warcRecs(s, dir))))),

    // JSONL round-trip census (m09): the documents table serialized
    // into per-segment JSONL shards (canonical to_json lines, id
    // order) and parsed back with native from_json against an
    // explicit schema; the census fingerprints text/id/char mass, so
    // any value moved by the round trip moves the census. The twin
    // computes everything STRAIGHT from documents — no JSON model in
    // SQL (the m08 convention).
    "m09_jsonl_census" -> ((s, dir) => {
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val parsed = graft.ops.Jsonl.parseLines(
        graft.ops.Jsonl.buildFiles(
          t(s, dir, "documents").withColumn("seg", expr("doc_id div 50")),
          Seq("doc_id", "text", "lang", "source", "n_chars")), sch)
      parsed.agg(
        count(lit(1)).as("n_lines"),
        count_distinct(col("path")).as("n_files"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("n_parsed"),
        count_distinct(col("doc_id")).as("n_docs"),
        sum(col("n_chars")).as("chars_total"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long")).as("text_fp"),
        sum(conv(substring(md5(col("lang").cast("binary")), 1, 8), 16, 10)
          .cast("long")).as("lang_fp"),
        sum(col("doc_id")).as("ids_fp"))
    }),

    // Dolma-style ATTRIBUTES SIDECAR (m10 — VERDICT r14 "What's
    // missing" #2): how curated corpora actually publish their
    // filters — the text shards are IMMUTABLE (m09's JSONL layout),
    // and every tagger's per-doc outputs ship as SEPARATE attribute
    // shards aligned to the text shards by (shard, line_index), so a
    // consumer joins any subset of taggers onto the corpus without
    // the corpus ever being rewritten. Composes shipped pieces only:
    // m09's buildFiles/parseLines for both sides, t03's languageId,
    // t37's gopherRules (n_words / n_stop / kept), and the t10 PII
    // patterns as span COUNTS (the sidecar form of the scrub).
    // Alignment is BY CONSTRUCTION, not by sort: buildFiles writes
    // each shard's lines in ascending doc_id order on both sides, so
    // (seg, line_index) pairs text row i with its attribute row — the
    // census proves it (n_aligned counts doc_id equality across the
    // rejoin and must equal n_lines).
    //
    // Scale shape: both shard builds are ONE segment-keyed shuffle
    // each (the m09 contract); the taggers are row-local projections
    // composed with a single doc_id-keyed join before sharding; the
    // rejoin probe is a (seg, line_index)-keyed join of two parsed
    // frames — shard-local at 100 TB when both sidecar and corpus use
    // the same shard partitioning (the published-layout property this
    // operator exists to prove). Nothing collects, nothing infers.
    "m10_attributes_sidecar" -> ((s, dir) => {
      val (tp, ap) = m10ParsedShards(s, dir)
      tp.join(ap, Seq("seg", "line_index"))
        .agg(count(lit(1)).as("n_lines"),
          count_distinct(col("seg")).as("n_files"),
          sum(when(col("t_doc_id") === col("a_doc_id"), 1L).otherwise(0L))
            .as("n_aligned"),
          count_distinct(col("t_doc_id")).as("n_docs"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_fp"),
          sum(conv(substring(md5(col("pred_lang").cast("binary")), 1, 8),
            16, 10).cast("long")).as("lang_fp"),
          sum(col("n_words")).as("words_total"),
          sum(col("n_stop")).as("stop_total"),
          sum(col("gopher_kept")).as("kept_total"),
          sum(col("n_pii")).as("pii_total"))
    }),

    // Sidecar-driven corpus materialization (p12 — the consumption
    // half of m10's contract, i.e. the Dolma "mix" step): the filter
    // decision reads ONLY the attribute shards — the text shards are
    // never re-tagged, which is the entire point of publishing
    // attributes separately — and the kept corpus is the (seg,
    // line_index)-aligned join of the two shard sets under the mix
    // rule (pred_lang = 'en' AND n_words >= 45 AND n_pii = 0 — the
    // t31 "quality = en" convention plus a length gate plus the PII
    // veto). Census: per-rule independent failure counts (a doc can
    // fail several), kept doc count, kept EXACT char mass, and the
    // kept text fingerprint — the release numbers a mixed corpus
    // ships. Twin recomputes the taggers directly over documents and
    // applies the identical predicate.
    //
    // Scale shape: m10's two parse projections + ONE shard-local
    // (seg, line_index) join + a filter — the corpus text moves
    // exactly once, the decision columns are integers/strings riding
    // the attribute shards, and re-mixing with a different rule
    // re-reads ONLY the sidecar (attribute shards are eval-config
    // sized per doc, not corpus-sized).
    "p12_sidecar_filter" -> ((s, dir) => {
      val (tp, ap) = m10ParsedShards(s, dir)
      val j = tp.join(ap, Seq("seg", "line_index"))
      val keep = col("pred_lang") === "en" && col("n_words") >= 45L &&
        col("n_pii") === 0L
      j.agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("pred_lang") =!= "en", 1L).otherwise(0L))
          .as("n_fail_lang"),
        sum(when(col("n_words") < 45L, 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(col("n_pii") =!= 0L, 1L).otherwise(0L)).as("n_fail_pii"),
        sum(when(keep, col("n_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(keep,
          conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).otherwise(0L)).as("kept_text_fp"))
    }),

    // Rolling-hash content fingerprint (order-sensitive).
    "t07_rolling_fp" -> ((s, dir) =>
      TextAnalysis.rollingFingerprint(docs(s, dir)).select("doc_id", "rolling_fp")),

    // Winnowing fingerprints (t44, Schleimer-Wilkerson-Aiken 2003 —
    // the MOSS algorithm): token 3-gram polynomial hashes, windows of
    // 4, rightmost minimum selected per window — any shared substring
    // of >= w+k-1 tokens shares a fingerprint while only ~2/(w+1) of
    // grams are kept. Within-document property: one codegen'd HOF
    // projection, zero exchanges; per-doc summary (gram count,
    // distinct selected count, exact fingerprint mass) is a bit-exact
    // BIGINT twin (the t07 portable-polynomial convention).
    "t44_winnow_fp" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(docs(s, dir))),

    // Winnowing cross-document match (t45 — MOSS's actual use, the
    // second half of SWA03): each doc's DISTINCT selected gram hashes
    // bucket-join, pairs scored by intersection size. The winnowing
    // guarantee makes every >= w+k-1-token shared run surface; the
    // join input is already thinned to ~2/(w+1) of the gram mass, and
    // maxDf (the d02 df-cap) caps boilerplate-fingerprint buckets at
    // 100 TB (unneeded at fixture scale, so this declared query runs
    // uncapped and stays bit-exact; the cap path's own driver oracle
    // is t45_capped_pairs below).
    "t45_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowPairs(docs(s, dir))),

    // The df-capped path's DRIVER oracle (the d02_skewed_dfcap skew
    // defense, now driver-checked instead of ScalaTest-only): a
    // 12-token license header planted on docs 0-39 makes its winnowed
    // fingerprints df = 40, far over the cap of 10, so every planted
    // pair (40·39/2 = 780) surfaces UNCAPPED — the >= w+k-1 shared-run
    // guarantee — while the CAPPED run drops the boilerplate buckets
    // before the self-join and the planted pairs collapse to only
    // those sharing real (sub-cap) content. Bit-exact twin: the whole
    // pipeline is integer arithmetic, so both pair censuses and the
    // conservative-degradation witness (capped <= uncapped, planted
    // mass gone) are exact BIGINT facts.
    "t45_capped_pairs" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("text",
        when(col("doc_id") < 40,
          concat(lit(LicenseHeader + " "), col("text")))
          .otherwise(col("text")))
      val planted = (a: Column, b: Column) =>
        coalesce(sum(when(a < 40 && b < 40, 1L).otherwise(0L)), lit(0L))
      // ONE fingerprint pass feeds both censuses (winnowSets is the
      // index half of the operator, matchable under any cap — exactly
      // the SQL twin's shared `sets` CTE): materialize it once, run
      // the capped and uncapped matches from the checkpoint, then
      // release the blocks after the 1-row summary is collected (the
      // p07 discipline).
      val sets = TextAnalysis.winnowSets(d).localCheckpoint(true)
      val un = TextAnalysis.winnowPairsFromSets(sets)
        .agg(count(lit(1)).as("n_pairs_uncapped"),
          planted(col("doc_a"), col("doc_b")).as("n_planted_uncapped"))
      val cp = TextAnalysis.winnowPairsFromSets(sets, maxDf = Some(10))
        .agg(count(lit(1)).as("n_pairs_capped"),
          planted(col("doc_a"), col("doc_b")).as("n_planted_capped"))
      val summary = un.crossJoin(cp)
      val rows = summary.collect().toSeq
      val schema = summary.schema
      graft.core.Checkpoints.release(sets)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    }),

    // HTML/boilerplate main-content extraction (t46, jusText/
    // trafilatura shape — the stage every web pretraining corpus
    // STARTS with; VERDICT r11 "What's missing" #1): the documents
    // fixture is deterministically HTML-ified (title/style/script/nav
    // boilerplate + the text reflowed into 10-token <p> paragraphs +
    // a footer), then extracted back — script/style payloads vanish,
    // block tags become line breaks, entities decode, and only
    // prose-like lines (>= 5 tokens, >= 50% alphanumeric) survive.
    // The short-tail paragraph (len % 10 in 1..4 tokens) exercises
    // the token rule on real data, not just the planted chrome. The
    // extracted column then feeds t01's token stats unchanged — the
    // end-to-end witness that the output IS the clean-text column
    // the rest of the engine consumes. Everything integer/string
    // arithmetic: bit-exact DuckDB twin, including the extracted
    // text itself.
    "t46_html_extract" -> ((s, dir) => htmlExtractFrame(docs(s, dir))),

    // URL canonicalization (t48 — the stage C4/RefinedWeb run BEFORE
    // any text pass; VERDICT r12 "What's missing" #2): the documents
    // fixture deterministically URL-ified into five cycling messy
    // surface variants (case, www., default ports, tracking params,
    // fragments, trailing slashes), normalized by Web.normalizeUrls.
    // Full (doc_id, url, norm_url, domain) table, bit-exact twin —
    // the twin re-implements the whole regex chain in DuckDB.
    "t48_url_normalize" -> ((s, dir) =>
      graft.ops.Web.normalizeUrls(urlifiedDocs(docs(s, dir)))
        .select("doc_id", "url", "norm_url", "domain")),

    // Per-URL exact dedup (d22 — d01 keyed by the canonical URL, the
    // cheapest dedup a crawl runs: surface forms of one page collapse
    // BEFORE anything reads the body; min-id wins). The t48 fixture
    // guarantees one collision per complete 5-block (variants 0/3 are
    // two surfaces of the same shared-site page).
    "d22_url_dedup" -> ((s, dir) =>
      Dedup.exact(graft.ops.Web.normalizeUrls(urlifiedDocs(docs(s, dir))),
        "doc_id", "norm_url")),

    // Domain blocklist gate (t49 — the t33 blocklist shape one level
    // up the stack: RefinedWeb/C4 drop whole domains before reading a
    // byte of their text; the blocklist is shared with the twin via
    // UrlBlocklist, the bm25Query single-source discipline). One
    // pipeline function shared with the st24 streaming serve.
    "t49_domain_gate" -> ((s, dir) => urlGateFrame(docs(s, dir))),

    // st24: the t48/t49 URL curation AT INGEST — the same pipeline
    // function run over a streaming read of documents in append mode
    // with ZERO state (pure per-row projections, so the drained
    // stream equals the batch result under any micro-batch slicing —
    // the st23 argument verbatim). Shares t49's bit-exact twin.
    "st24_url_gate_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.urlGateServe(s, dir, urlGateFrame)),

    // Web-corpus ASSEMBLY, end to end (p07): the five stages a crawl
    // actually passes through, composed from shipped operators into
    // one bit-exact pipeline — (0) URL canonicalization + per-URL
    // exact dedup (t48/d22 — every doc_id % 10 == 0 re-crawled at
    // id + 10^6 under a MESSY surface form of its original's URL;
    // normalization collapses them before a byte of markup is read),
    // (1) t46 extraction over the URL-surviving corpus, (2)
    // exact-dedup survivors on the CLEAN text keyed by md5 so the
    // dedup shuffle moves 32-byte digests, never bodies (the
    // exactByHash scale argument; catches the organic exact dupes the
    // URL pass can't see), (3) the t02 quality scorer over the
    // extracted text, (4) the t22 budget selector at 8000 tokens.
    // Every stage deterministic, so the one-row summary is a
    // bit-exact twin: crawled/input/survivor/kept counts, picked
    // token mass (<= 8000 by construction), the quality threshold the
    // budget bought (a DOUBLE, but both engines compute the identical
    // IEEE value per doc — the t02 twin proves it — and min is
    // order-independent), and the picked-id mass.
    "p07_web_assembly" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(docs(s, dir)
          .filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      // Stage 0 (round 13, VERDICT r12 "What's missing" #2): URL-level
      // dedup BEFORE extraction — each re-crawl carries a messy
      // surface form of its ORIGINAL's URL (case/www./port/tracking/
      // fragment noise), so canonicalization + min-id collapse drops
      // every re-crawl for the price of a url-keyed shuffle, bodies
      // untouched (the d22 scale argument: at 100 TB this is the
      // cheapest dedup a crawl runs, and it runs FIRST). The md5
      // text-dedup stage below then catches only organic exact dupes.
      val urled = aug.withColumn("url",
        when(col("doc_id") < 1000000L,
          concat(lit("https://crawl.example.com/doc/"), col("doc_id")))
          .otherwise(concat(lit("HTTPS://WWW.Crawl.Example.COM:443/doc/"),
            col("doc_id") - lit(1000000L),
            lit("?utm_source=recrawl#cached"))))
      val sv0 = graft.ops.Web.normalizeUrls(urled)
        .groupBy("norm_url").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val stage0 = aug.join(sv0, "doc_id")
      // The extraction feeds THREE consumers (the md5 census, the
      // survivor join-back, and the input count) and the scored frame
      // two (the selector's rank and the threshold re-join); without
      // materialization Catalyst re-executes the regex-heaviest
      // subtree per consumer (round-12 review) — NND's pairBufs
      // truncate-once precedent.
      val cl = htmlExtractFrame(stage0)
        .select(col("doc_id"), col("extracted").as("text"))
        .localCheckpoint(true)
      val sv = cl.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val svt = cl.join(sv, "doc_id")
      val scored = TextAnalysis.qualityScore(svt)
        .select(col("doc_id"), col("quality"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .localCheckpoint(true)
      val sel = graft.ops.Sampling
        .selectByBudget(scored, "doc_id", "quality", "n_tokens", 8000L)
        .join(scored.select(col("doc_id"), col("quality")), "doc_id")
      val summary = sel.agg(
          count(lit(1)).as("n_unique"),
          sum(col("kept")).as("n_kept"),
          sum(col("kept") * col("n_tokens")).as("picked_tokens"),
          min(when(col("kept") === 1L, col("quality"))).as("q_threshold"),
          sum(col("kept") * col("doc_id")).as("ids_fp"))
        .crossJoin(cl.agg(count(lit(1)).as("n_input")))
        .crossJoin(aug.agg(count(lit(1)).as("n_crawled")))
      // Materialize the 1-row summary, then release both checkpointed
      // frames (bridge release — bare unpersist never reaches a
      // localCheckpoint's blocks) — otherwise every invocation (bench
      // pass + reruns) leaks two persisted block sets for the session.
      val rows = summary.collect().toSeq
      val schema = summary.schema
      Seq(cl, scored).foreach(graft.core.Checkpoints.release)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    }),

    // WARC-fed web assembly (p10): p07's chain with an HONEST stage -1
    // — the corpus enters as Content-Length-framed WARC segment files
    // (p07's augmented crawl, surface-form URLs and t46-HTML-ified
    // bodies, serialized then PARSED BACK by the m08 kernel), and
    // every downstream stage consumes only what the parser recovered:
    // URL canonicalization + min-id dedup on the parsed Target-URIs
    // (stage 0), extraction on the parsed payload html (NOT
    // re-synthesized from the table), md5 text-dedup on the extracted
    // text. The twin rebuilds the same stages relationally from
    // documents — it can, because the WARC round-trip is bit-lossless,
    // which is exactly what m08's fingerprint census pins.
    // Dedup-policy ablation card (p11): the release-report table a
    // corpus ships next to its dedup decision — what each policy
    // keeps, on one exact basis. Four rows (policy, n_docs, mass_fp):
    // baseline char mass at weight 1; HARD near-dup dedup (d06's
    // min-id representative survives); SOFT dedup (every doc kept at
    // its t52 cluster-size weight — mass_fp = Σ weight_fp·chars, the
    // reweight-don't-drop accounting); LINE dedup (d24's surviving
    // clean_text mass — the reflow is unconditionally char-count-
    // preserving: single-char separators both ways, so baseline and
    // line masses share one unit). All-integer 2^-20 fixed point;
    // pure composition of audited operators.
    "p11_dedup_policy_card" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      def card(df: DataFrame, policy: String) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("m")), lit(0L)).as("mass_fp"))
          .select(lit(policy).as("policy"), col("n_docs"), col("mass_fp"))
      val chars = length(col("text")).cast("long")
      val baseline = card(d.select((chars * 1048576L).as("m")), "baseline")
      // ONE cluster build prices both policies: the assignment is
      // materialized once (localCheckpoint) and hard/soft read it —
      // without this the d06 LSH+verify+components chain, the card's
      // dominant cost, would execute twice. The line-dedup arm is
      // independent of the cluster build (disjoint pipelines until the
      // final 4-row union) — overlap the two heavy chains (guide
      // §2.6); previously the line arm executed inside the final
      // union's single action, strictly after the cluster build.
      val (cl, line) = graft.core.Par.pair(
        Dedup.clusterNearDups(d, "doc_id", "text", 0.7, useLsh = true)
          .select(col("id"), col("component"), col("keep"))
          .localCheckpoint(),
        card(
          Dedup.lineDedup(reflow10(d), "doc_id", "text")
            .select((length(col("clean_text")).cast("long") * 1048576L)
              .as("m")), "line_dedup")
          .localCheckpoint())
      val hard = card(
        d.join(cl.filter(col("keep") === 1).select(col("id").as("doc_id")),
            "doc_id")
          .select((chars * 1048576L).as("m")), "hard_neardup")
      val soft = card(
        graft.ops.Sampling.softDedupWeightsFrom(
            cl.select("id", "component"), "doc_id")
          .join(d, "doc_id")
          .select((col("weight_fp") * chars).as("m")), "soft_neardup")
      baseline.unionByName(hard).unionByName(soft).unionByName(line)
    }),

    "p10_warc_assembly" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(docs(s, dir)
          .filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val urled = aug.withColumn("url",
        when(col("doc_id") < 1000000L,
          concat(lit("https://crawl.example.com/doc/"), col("doc_id")))
          .otherwise(concat(lit("HTTPS://WWW.Crawl.Example.COM:443/doc/"),
            col("doc_id") - lit(1000000L),
            lit("?utm_source=recrawl#cached"))))
        .select(col("doc_id"), col("url"), htmlifiedCol.as("html"),
          concat(lit("seg-"), expr("doc_id div 50")).as("seg"))
      // Stage -1: serialize + parse. Checkpointed: the parsed frame
      // feeds the URL-dedup aggregation AND the survivor join-back,
      // and without materialization each consumer re-runs the whole
      // build+parse (the p07 truncate-once precedent).
      val parsed = graft.ops.Warc.parseRecords(
          graft.ops.Warc.buildFiles(urled)).toDF()
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("url"), col("payload").cast("string").as("html"))
        .localCheckpoint(true)
      val sv0 = graft.ops.Web.normalizeUrls(parsed)
        .groupBy("norm_url").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val stage0 = parsed.join(sv0, "doc_id")
      val ex = TextAnalysis
        .extractMainContent(stage0, "doc_id", "html")
        .select(col("doc_id"), col("extracted").as("text"))
        .localCheckpoint(true)
      val sv = ex.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val svt = ex.join(sv, "doc_id")
      val summary = svt.agg(
          count(lit(1)).as("n_unique"),
          sum(size(split(col("text"), " ")).cast("long"))
            .as("survivor_tokens"),
          sum(col("doc_id")).as("ids_fp"))
        .crossJoin(parsed.agg(count(lit(1)).as("n_crawled"),
          count_distinct(col("url")).as("n_urls")))
        .crossJoin(stage0.agg(count(lit(1)).as("n_after_url")))
      val rows = summary.collect().toSeq
      val schema = summary.schema
      Seq(parsed, ex).foreach(graft.core.Checkpoints.release)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    }),

    // Dataset card (p09 — the release artifact every corpus publishes:
    // Dolma/FineWeb ship exactly this table next to the data): corpus
    // census (docs, tokens, languages, sources, distinct texts), the
    // EXACT quality quartiles at the (quality asc, doc_id asc) total
    // order (order statistics are data elements — bit-exact, the
    // quantileFilter argument — ranked by Packing.globalRank's
    // range-partitioned rank, never a single-task global window),
    // contaminated-doc count (the d09 trigram overlap vs the
    // doc_id % 20 == 0 bench split), and PII-bearing docs (rows the
    // t10 scrubber would change). Pure composition of shipped
    // operators; every stat is DuckDB-derivable, so the single row is
    // a bit-exact twin — quartile DOUBLEs included (per-doc IEEE
    // parity is t02's twin proof; selection is integer ranks).
    "p09_dataset_card" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("text")).as("n_unique_texts"))
      val sc = TextAnalysis.qualityScore(d).select(col("doc_id"), col("quality"))
      // globalRank is 0-based; the k-th smallest (1-based, k = ceil(q·n))
      // is rk + 1 == k.
      val ranked = Packing.globalRank(sc, Seq(col("quality"), col("doc_id")), "rk")
      def atQ(f: Double) = col("rk") + 1 === ceil(col("nd") * f).cast("long")
      val qs = ranked.crossJoin(broadcast(base.select(col("n_docs").as("nd"))))
        .filter(atQ(0.25) || atQ(0.5) || atQ(0.75))
        .agg(
          min(when(atQ(0.25), col("quality"))).as("q25"),
          min(when(atQ(0.5), col("quality"))).as("q50"),
          min(when(atQ(0.75), col("quality"))).as("q75"))
      val cont = Decontaminate.overlapCounts(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0), "doc_id", "text")
        .agg(sum((col("n_contaminated") > 0).cast("long"))
          .as("n_contaminated_docs"))
      val pii = TextAnalysis.scrubPii(d)
        .join(d.select(col("doc_id"), col("text")), "doc_id")
        .agg(sum((col("scrubbed") =!= col("text")).cast("long"))
          .as("n_pii_docs"))
      base.crossJoin(qs).crossJoin(cont).crossJoin(pii)
    }),

    // st23: the t46 extraction AT INGEST — the same pipeline function
    // (shared by construction, the two surfaces cannot drift) run over
    // a streaming read of documents in append mode with ZERO state
    // (pure per-row projection, so per-row independence makes the
    // drained stream equal the batch result under any micro-batch
    // slicing). Shares t46's bit-exact SQL twin verbatim.
    "st23_html_extract_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.htmlExtractServe(s, dir,
        htmlExtractFrame)),

    // Structured Streaming path: tumbling daily window over a streaming
    // read of events, drained synchronously — must equal the batch SQL.
    "st01_stream_daily" -> ((s, dir) =>
      graft.streaming.EventsStream.dailyAggregates(s, dir)),

    // IVF ANN (trained coarse quantizer, nProbe cells per query):
    // pinned recall summary vs brute force, same scheme as s02.
    "s04_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.ivfTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Persisted-index ANN: the serve half of the on-disk IVF
    // lifecycle — centroids + cell-partitioned inverted file written
    // once (session-memoized artifact), reloaded, and searched with
    // the probe set pushed into the scan as a partition filter (only
    // the probed cell directories are read). Output is identical to
    // the in-memory s04 search, so the pins match s04's.
    "s14_ann_ivf_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val (cents, index) = SimilaritySearch.loadIvfIndex(s, ivfIndexPath(s, dir))
      recallCounts(
        SimilaritySearch.ivfTopKFromIndex(cents, index, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Incrementally-grown index ANN: the 80%-prior index plus an
    // appended 20% increment (saved centroids, no rebuild — the
    // serving index after a day's ingest), searched over the full
    // query set vs the full-corpus brute truth. Recall sits below
    // s04/s14 only because the cell geometry trained on 80% of the
    // corpus — the price of not rebuilding, pinned as a fixed fact.
    "s16_ann_ivf_appended" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val (cents, index) = SimilaritySearch.loadIvfIndex(s, ivfIncrIndexPath(s, dir))
      recallCounts(
        SimilaritySearch.ivfTopKFromIndex(cents, index, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Approximate MIPS: the cosine-reduction + IVF path (augment items
    // with sqrt(M^2 - |x|^2), queries with 0 — per-query-constant
    // denominator makes cosine ranking = inner-product ranking),
    // pinned against the exact MIPS scan s06.
    "s09_mips_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.mipsTopKIvf(e, q, 10),
        SimilaritySearch.mipsTopK(e, q, 10))
    }),

    // JL random-projection ANN: candidates generated at half the
    // vector width (64 -> 32 dims), exact full-width re-rank of the
    // k*refine survivors. The isotropic fixture is the worst case for
    // any distance-preserving reduction (neighbor gap ~ one distortion
    // sigma); clustered-data quality is the OpsSpec planted exhibit.
    "s10_ann_rp" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.rpTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // PCA ANN: fitted-basis half-width candidates with exact re-rank —
    // the data-dependent twin of s10's JL projection (one fixed-point
    // training pass, basis ships as a codegen reference object).
    // Pinned next to s10: the fitted basis beats the random map even
    // on this near-isotropic fixture (186 vs 129 hits at sf0.1); the
    // planted low-rank corpus in PcaSpec shows the full separation.
    "s12_ann_pca" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.pcaTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // IVF-PQ ANN: cell routing + ADC code scoring + exact re-rank —
    // the full billion-vector serving-index composition; the scan
    // streams nProbe/nCells of the corpus at 12 bytes/row. Pinned
    // recall vs brute force; the isotropic fixture stacks both
    // components' worst cases, so the pins sit at the IVF operating
    // point with a small PQ haircut.
    "s13_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.pqTopKIvf(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // FILTERED ANN: IVF search restricted to an allowed subset (id %
    // 3 = 0 stands in for a metadata predicate) over an index built on
    // the full corpus — the vector-store filtered-search contract.
    // Truth is the filtered brute scan; the pre-filter construction
    // can return fewer than k survivors only when the subset itself
    // has fewer, so n_total counts the truth rows.
    "s08_ann_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val pred = col("id") % 3 === 0
      recallCounts(
        SimilaritySearch.ivfTopKFiltered(e, q, 10, pred),
        SimilaritySearch.bruteForceTopK(e.filter(pred), q, 10))
    }),

    // Custom stateful streaming (mapGroupsWithState): per-user session
    // counts, drained to completion — oracle-checked against the batch
    // sessionization SQL.
    "st02_stateful_sessions" -> ((s, dir) =>
      graft.streaming.EventsStream.sessionCountsStateful(s, dir)),

    // NATIVE session_window sessionization: per-session rows (start +
    // event count) from Spark's dedicated session-window streaming
    // aggregation — state per OPEN session, watermark-evicted, vs
    // st02's per-user-forever custom state. Oracle is the batch
    // gaps-and-islands SQL.
    "st14_session_windows" -> ((s, dir) =>
      graft.streaming.EventsStream.sessionWindows(s, dir)),

    // Streaming ingest-time exact dedup: odd-id stream checked against
    // the static even-id corpus text set — a stateless stream-static
    // join (the cheap exact gate in front of near-dup machinery);
    // must equal the batch IN-subquery bit-for-bit.
    "st16_ingest_dedup" -> ((s, dir) =>
      graft.streaming.EventsStream.ingestDedupFlags(s, dir)),

    // Streaming drift monitor: streamed odd-id term counts (complete
    // mode, vocabulary-bounded state) against the static even-id
    // reference through the same fixed-point Jeffreys combine — equals
    // batch t30 bit-for-bit and shares its oracle.
    "st17_stream_drift" -> ((s, dir) =>
      graft.streaming.EventsStream.corpusDriftStreaming(s, dir)),

    // Streaming ingest-time NEAR-dup gate: each micro-batch runs the
    // full MinHash-LSH candidate + exact-verify pipeline of batch d07
    // against the static corpus through foreachBatch (the batch engine
    // plans every micro-batch; the stream holds no state). Per-batch
    // stream-vs-static results union independently, so the drain
    // equals d07 bit-for-bit and shares its oracle.
    "st19_neardup_gate" -> ((s, dir) =>
      graft.streaming.EventsStream.ingestNearDupPairs(s, dir)),

    // Streaming quality-classifier serving: t31's IRLS model trained
    // batch-side over the resident corpus, its fixed-point weights
    // shipped in the task binary; the document stream runs the pure
    // stateless scoring projection (bit-identical score_fp) with a
    // bounded complete-mode summary — emits t31's exact five-column
    // row, so the two queries share one pinned oracle (the st12
    // fitted-model serving pattern applied to the classifier).
    "st20_classifier_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.classifierServeCounts(s, dir,
        qualityModel(s, dir))),

    // Streaming tokenizer serving (tokenizer-as-a-service): the t35
    // vocabulary served over the document stream via foreachBatch —
    // stateless per-doc encode, so the drained summary = t36
    // bit-for-bit (shared pinned oracle; OpsSpec equals-batch).
    "st21_tokenizer_serve" -> ((s, dir) =>
      graft.streaming.EventsStream.tokenizerServeCounts(s, dir,
        unigramPieces(s, dir).map(r => (r.getString(0), r.getLong(2))).toSeq)),

    // Streaming quality-score histogram (live ingest-quality monitor):
    // stateless t02 scoring projection + complete-mode bucket counts —
    // state one count per occupied bucket forever; drained histogram
    // equals the batch SQL bit-for-bit (bucketing on bit-identical
    // doubles).
    "st15_stream_qhist" -> ((s, dir) =>
      graft.streaming.EventsStream.qualityHistogram(s, dir)),

    // Streaming dedup: dropDuplicates over the stream then per-type
    // distinct-user counts — oracle-checked against batch DISTINCT.
    "st03_stream_dedup" -> ((s, dir) =>
      graft.streaming.EventsStream.dedupCounts(s, dir)),

    // Quantized ANN (int8 scoring + exact re-rank): pinned recall
    // summary vs brute force, same scheme as s02.
    "s05_ann_quantized" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.quantizedTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Product-quantization ANN (8-byte codes + ADC table scoring +
    // exact re-rank): the bytes-per-row scale path at its limit — the
    // scoring scan streams m=8 code bytes per corpus row instead of
    // 256 float bytes. Pinned recall vs brute force, same scheme as
    // s05 (whose 1-byte-per-COMPONENT quantization this shrinks by a
    // further d/m).
    "s11_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      recallCounts(
        SimilaritySearch.pqTopK(e, q, 10),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Distributed k-means (domain-discovery clustering, k=8, 5 Lloyd
    // rounds): fixed-point centroid accumulation makes assignments a
    // pure function of the fixture at ANY partitioning, so the cluster
    // census + exactly-summable fixed-point inertia are pinned facts
    // (partition-invariance asserted in ClusteringSpec).
    // Embedding-space drift monitor (s21 — t30's analogue for the
    // vector modality: a new encoder version or crawler shift moves
    // the embedding distribution in ways no text statistic sees).
    // Even/odd vec_id split plays yesterday's/today's snapshot (the
    // t30 convention); cells fit on the union so the geometry is
    // snapshot-independent. Summary: cell count, per-snapshot mass,
    // cells occupied by both, the exact cross-multiplied L1 mean-shift
    // mass and its max cell — all BIGINT, pinned (the fit's centroids
    // are not DuckDB-derivable; determinism via fixed-point sums).
    "s21_embedding_drift" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ops.Clustering.embeddingDrift(
          e.filter(col("id") % 2 === 0), e.filter(col("id") % 2 =!= 0),
          "id", "features")
        .agg(
          count(lit(1)).as("n_cells"),
          sum(col("n_a")).as("n_a_total"),
          sum(col("n_b")).as("n_b_total"),
          sum(when(col("n_a") > 0 && col("n_b") > 0, 1L).otherwise(0L))
            .as("n_cells_shared"),
          sum(col("drift_fp")).as("drift_total"),
          max(col("drift_fp")).as("drift_max"))
    }),

    "s07_kmeans_clusters" -> ((s, dir) => {
      val sizes = Clustering.kmeansAssign(emb(s, dir), "id", "features", 8)
        .groupBy("cluster")
        .agg(count(lit(1)).as("cn"), sum(col("dist_fp")).as("d"))
      sizes.agg(
        sum(col("cn")).as("n_points"),
        count(lit(1)).as("n_clusters_nonempty"),
        max(col("cn")).as("largest_cluster"),
        sum(col("d")).as("inertia_fp"))
    }),

    // D4-style semantic outlier pruning: survivors within fixed-point
    // squared distance 4050/2^12 of their assigned centroid (≈ the
    // p90–p95 band on this isotropic fixture — a real prune without
    // gutting the corpus). Census is (kept, pruned, total); the
    // survivor set is a pure function of the corpus (fixed-point
    // k-means + fixed-point distances), so the counts pin.
    "s15_semantic_outliers" -> ((s, dir) => {
      val a = Clustering.pruneOutliers(emb(s, dir), "id", "features", 8, 4050L)
      val all = emb(s, dir).count()
      a.agg(count(lit(1)).as("n_kept"))
        .select(col("n_kept"), (lit(all) - col("n_kept")).as("n_pruned"),
          lit(all).as("n_points"))
    }),

    // Streaming twin of s15: the fitted centroid matrix is a static
    // artifact; the prune is a stateless model-apply projection per
    // micro-batch, so the drained census equals batch s15's and
    // shares its pins.
    "st12_stream_prune" -> ((s, dir) =>
      graft.streaming.EventsStream.outlierPruneCounts(s, dir)),

    // Streaming BM25 serving (more-like-this): streamed documents
    // query the static per-(term, doc) impact index; one stream-static
    // join + one bounded sum per candidate pair, ranking on the
    // drained totals. All float ops live in the static index build, so
    // the oracle is full SQL, not pins (Bm25Serve scale notes).
    "st13_bm25_serve" -> ((s, dir) =>
      graft.streaming.Bm25Serve.bm25ServeTopK(s, dir)),

    // Stream-stream interval join (watermarked both sides) — must equal
    // the batch range join q27.
    "st04_stream_join" -> ((s, dir) =>
      graft.streaming.EventsStream.purchaseAttribution(s, dir)),

    // LEFT OUTER stream-stream interval join: st04 plus the purchases
    // with NO prior event — null-extended rows emit only once the
    // watermark proves no match can arrive (heartbeat-flushed).
    // Oracle is the batch LEFT JOIN.
    "st18_stream_join_outer" -> ((s, dir) =>
      graft.streaming.EventsStream.purchaseAttributionOuter(s, dir)),

    // State-BOUNDED streaming dedup: dropDuplicatesWithinWatermark, the
    // form whose state is O(keys per watermark horizon) — the horizon
    // covers the fixture span, so the oracle is the exact batch
    // DISTINCT; eviction with a short horizon is asserted in OpsSpec.
    "st05_stream_dedup_wm" -> ((s, dir) =>
      graft.streaming.EventsStream.dedupCountsWithinWatermark(s, dir)),

    // Streaming vocabulary estimate: HLL++ in complete mode — O(1)
    // sketch state where exact distinct is unstreamable; the drained
    // estimate equals batch t14's n_approx (order-independent merge),
    // pinned to the same per-SF values.
    "st07_stream_vocab" -> ((s, dir) =>
      graft.streaming.EventsStream.vocabEstimate(s, dir)),

    // Streaming decontamination: the benchmark gram set broadcast as a
    // static artifact, the document stream a stateless in-row
    // projection (no watermark, no state store) — must equal batch d09
    // bit-for-bit, and shares its SQL oracle.
    "st08_stream_decon" -> ((s, dir) =>
      graft.streaming.EventsStream.decontaminateCounts(s, dir)),

    // Streaming PCA: sharded stateful accumulation of the fixed-point
    // moment sketch (O(d²) Longs per shard forever); drained shards
    // merge EXACTLY to the batch sketch, so the solved spectrum is a
    // pinnable pure function of the fixture — the streaming ingest
    // trains bit-identically the basis the batch fit would.
    "st09_stream_pca" -> ((s, dir) =>
      graft.streaming.EventsStream.pcaSpectrum(s, dir)),

    // Streaming ANN serving: query micro-batches probe the resident
    // IVF index through a stream-static join; per-query top-k is the
    // bounded TopKAggregator as streaming state (k rows per query,
    // forever). Produces the batch s04 search's exact rows
    // (AnnServeSpec), so the pinned recall equals s04's.
    "st10_ann_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      // Drain and brute-force truth overlapped (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.streaming.AnnServe.ivfServeTopK(s, dir).localCheckpoint(),
        SimilaritySearch.bruteForceTopK(e, e.filter(col("id") < 20), 10)
          .localCheckpoint())
      recallCounts(res, truth)
    }),

    // Streaming layered-ANN serving (st29): the s22 hierarchy served
    // over the query stream from the RELOADED n16 artifact — the
    // serving triptych's third leg (s22 in-memory, n16 persisted,
    // st29 streamed), the st10/st22 convention applied to the layer
    // stack. Zero stream state; per-query independence makes the
    // drain equal the batch descent under any slicing, so the three
    // queries share one pin row.
    "st29_layered_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val p = layerStackPath(s, dir)
      val maxLevel = s.read.parquet(s"$p/meta").head().getInt(0)
      val layers = (0 to maxLevel).map(l => s.read.parquet(s"$p/layer_$l"))
      // Drain and brute-force truth overlapped (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.streaming.AnnServe.layeredServe(s, dir, layers, e)
          .localCheckpoint(),
        SimilaritySearch.bruteForceTopK(e, e.filter(col("id") < 20), 10)
          .localCheckpoint())
      recallCounts(res, truth)
    }),

    // Streaming heavy hitters: sharded Misra-Gries state (capacity
    // counters per shard FOREVER — vocabulary-scale-free) maintained
    // through mapGroupsWithState over a streaming read of documents,
    // drained candidates exactly recounted — must equal batch t12.
    "st06_stream_heavy" -> ((s, dir) =>
      graft.streaming.EventsStream.heavyTerms(s, dir, 1L, 100L)),

    // Similarity search over the prebuilt K-NN graph: greedy beam
    // search, reported as a pinned recall summary vs brute force. The
    // graph is the session-memoized n01 artifact (built once, searched
    // many times — the production serving shape), so this query times
    // SEARCH, not construction.
    "s03_graph_search" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val g = knnGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      // beam/hops/seeds sized for the bench corpus: 3 hops from 8 seeds
      // under-covers a 2000-node graph (measured 112/200 hits at sf0.1);
      // 4 hops x 32 beam reaches 193/200 at the same wall cost.
      // Search and brute-force truth overlapped (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.ops.GraphSearch.searchGraph(g, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16),
        SimilaritySearch.bruteForceTopK(e, q, 10).localCheckpoint())
      recallCounts(res, truth)
    }),

    // HNSW-style layered serving (s22 — Malkov & Yashunin 2016 over
    // the existing NND artifacts; VERDICT r14 optional #8): geometric
    // layers (deterministic hash levels, fanout 4) each carry their
    // own small NND graph, and search DESCENDS — top layer from fixed
    // seeds, each lower layer entered AT the layer above's per-query
    // result, only the base layer paying a full beam. The census
    // prices the HNSW thesis as a controlled pair: the base layer runs
    // at ONE QUARTER of s03's serving budget (beam 8 / hops 2 vs 32 /
    // 4) with navigated vs random-seed entries, over one shared
    // brute-force truth — entries hold 3-4x the flat recall (122 vs 31
    // of 200 at sf0.1). The residual gap to s03's wide-beam 193 is the
    // fixture's near-isotropic geometry (greedy descent's worst case,
    // the s13 IVF caveat, measured background cosine <= 0.63); the
    // OpsSpec clustered exhibit shows the production geometry, where
    // the quarter-budget descent closes on the wide beam itself.
    // The id-bucketed features store wired into the DECLARED serving
    // path (s23): the s22 layered descent with the corpus read from
    // the bucketed (id, features) table instead of raw parquet — the
    // layout the 384-d dim finding prescribes for 100 TB (the scan
    // itself carries HashPartitioning(id), so the per-hop fetch's
    // corpus side is exchange-free; PlanSpec pins the plan, ScaleBench
    // measures the dim-invariant shuffle). The layout changes the
    // plan's exchanges, never the data — parquet float round-trip is
    // exact and every kernel is deterministic — so the serve must be
    // ROW-IDENTICAL to the raw-corpus serve: the census carries the
    // two-way divergence count alongside the recall, and a nonzero
    // n_rows_diverging is a bug, not drift (the n16 convention).
    "s23_bucketed_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val layers = s22LayerGraphs(s, dir)
      def serve(corpus: DataFrame): DataFrame =
        graft.ops.GraphSearch.searchHierarchical(layers, corpus, q,
          k = 10, beam = 8, hops = 2, entries = 4, upperBeam = 8,
          upperHops = 3, seeds = 4)
      // The two serves read disjoint corpus layouts and only combine
      // at the final one-row census — overlap them (guide §2.6).
      val (bucketed, raw) = graft.core.Par.pair(
        serve(s.table(featuresTableName(s, dir))).localCheckpoint(),
        serve(e).localCheckpoint())
      val truth = SimilaritySearch.bruteForceTopK(e, q, 10)
      recallCounts(bucketed, truth)
        .select(col("n_hits").as("n_hits_bucketed"), col("n_total"))
        .crossJoin(
          bucketed.exceptAll(raw).unionByName(raw.exceptAll(bucketed))
            .agg(count(lit(1)).as("n_rows_diverging")))
    }),

    "s22_layered_search" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val layers = s22LayerGraphs(s, dir)
      val truth = SimilaritySearch.bruteForceTopK(e, q, 10)
      // Layered and flat searches are independent comparator arms —
      // overlap their eager descent jobs (guide §2.6).
      val (layeredRes, flatRes) = graft.core.Par.pair(
        graft.ops.GraphSearch.searchHierarchical(layers, e, q, k = 10,
          beam = 8, hops = 2, entries = 4, upperBeam = 8, upperHops = 3,
          seeds = 4),
        graft.ops.GraphSearch.searchGraph(layers.head, e, q, k = 10,
          beam = 8, hops = 2, seeds = 4))
      val layered = recallCounts(layeredRes, truth)
      val flat = recallCounts(flatRes, truth)
      layered.select(col("n_hits").as("n_hits_layered"), col("n_total"))
        .crossJoin(flat.select(col("n_hits").as("n_hits_flat")))
        .select(col("n_hits_layered"), col("n_hits_flat"), col("n_total"))
    }),

    // Tombstone-aware graph serving (n17 — the FreshDiskANN delete
    // semantics, the production concern every vector store bolts on
    // between index rebuilds): 14% of the corpus (id % 7 == 3) is
    // deleted; dead nodes stay fully TRAVERSABLE — their adjacency
    // still routes the beam, so graph connectivity survives the
    // deletes without a rebuild — but can never be RETURNED (results
    // re-rank after suppression, so k live answers come back whenever
    // the beam surfaced that many; OpsSpec carries the
    // bridge-through-a-tombstone discriminating witness where
    // deleting nodes FROM THE GRAPH would strand the search). Census:
    // pinned recall vs the brute-force truth over the LIVE corpus,
    // plus n_dead (returned tombstones — structurally zero; a
    // non-zero value is a bug, not drift). Consolidation — actually
    // rewiring the lists — is the existing n08 prune over the live
    // subset; this query prices the serve-between-consolidations
    // state.
    "n17_tombstone_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val dead = e.select("id").filter(col("id") % 7 === 3)
      val live = e.join(dead, Seq("id"), "left_anti")
      val q = live.filter(col("id") < 20)
      val g = knnGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      // Serve and brute-force truth overlapped (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.ops.GraphSearch.searchGraph(g, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16, tombstones = Some(dead))
          .localCheckpoint(),
        SimilaritySearch.bruteForceTopK(live, q, 10).localCheckpoint())
      recallCounts(res, truth)
        .crossJoin(res.join(dead.select(col("id").as("nbr_id")),
            Seq("nbr_id"), "left_semi")
          .agg(count(lit(1)).as("n_dead")))
        .select(col("n_hits"), col("n_total"), col("n_dead"))
    }),

    // Hierarchical INSERT + delete + layered serve (n18 — the round-15
    // VERDICT gap: appendToGraph patches only the base layer, so a
    // point whose assignLayers level is >= 1 never enters the
    // navigable hierarchy until a full rebuild). The full
    // FreshDiskANN-style serve-between-rebuilds lifecycle in one
    // census: the resident stack is built over the 80% corpus
    // (n18LayerGraphs), the 20% increment stack-appends (each new
    // point beam-inserts into every layer <= its deterministic level,
    // WITH reverse edges — old members link back, re-capped to the
    // layer degree — so high-level inserts become traversal
    // waypoints), 14% of ALL ids (old and new) are tombstoned, and
    // the layered descent serves THROUGH the appended+deleted stack.
    // Pinned recall is vs the brute-force truth over the LIVE full
    // corpus — it prices append staleness (no new<->new links until
    // rebuild) plus delete suppression on top of descent recall;
    // n_dead is structurally zero (the suppression anti-join).
    "n18_stack_append_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      // The appended stack is a deployment artifact (built once,
      // memoized; Bench prices it as n18_append_build) — the declared
      // census measures the SERVE through it, the s03/n01 convention.
      val appended = n18AppendedStack(s, dir)
      val dead = e.select("id").filter(col("id") % 7 === 3)
      val live = e.join(dead, Seq("id"), "left_anti")
      val q = live.filter(col("id") < 20)
      // Serve and brute-force truth are independent until the final
      // recall join — overlap them (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.ops.GraphSearch.searchHierarchical(appended, e, q,
          k = 10, beam = 8, hops = 2, entries = 4, upperBeam = 8,
          upperHops = 3, seeds = 4, tombstones = Some(dead))
          .localCheckpoint(),
        SimilaritySearch.bruteForceTopK(live, q, 10).localCheckpoint())
      recallCounts(res, truth)
        .crossJoin(res.join(dead.select(col("id").as("nbr_id")),
            Seq("nbr_id"), "left_semi")
          .agg(count(lit(1)).as("n_dead")))
        .select(col("n_hits"), col("n_total"), col("n_dead"))
    }),

    // Stack-health census (n19 — graphHealth lifted to the layer
    // stack, the rebuild trigger of the hierarchical lifecycle): over
    // the n18 APPENDED stack, one row per layer rolled up to the
    // one-row card a maintenance job reads — layer count, node/edge
    // totals, NESTING violations (layer l+1 ⊆ layer l; structurally
    // zero through appendToGraphStack, which inserts into every layer
    // <= level — a non-zero value means a maintenance path skipped a
    // layer), and the minimum per-layer reciprocity (the decay gauge:
    // stack append's reverse edges hold it up where flat append's
    // one-directional lists let it rot; OpsSpec measures that
    // difference directly). All-BIGINT, pinned per SF.
    "n19_stack_health" -> ((s, dir) => {
      val h = graft.ops.GraphSearch.stackHealth(n18AppendedStack(s, dir))
        .localCheckpoint()
      val above = h.select((col("layer") - 1).as("layer"),
        col("n_nodes").as("n_nodes_up"))
      h.join(above, Seq("layer"), "left_outer")
        .agg(count(lit(1)).as("n_layers"),
          sum(col("n_nodes")).as("n_nodes_total"),
          sum(col("n_edges")).as("n_edges_total"),
          sum(when(col("n_above") =!= coalesce(col("n_nodes_up"), lit(0L)),
            1L).otherwise(0L)).as("n_nest_violations"),
          min(col("reciprocity_fp")).as("min_reciprocity_fp"))
    }),

    // Consolidated-stack census (n20 — the maintenance RESPONSE n19's
    // trigger exists for). The memoized appended stack is consolidated
    // (consolidateStack: NN-descent refinement seeded FROM the
    // appended lists, batch-incident edges flagged fresh — no bucket
    // re-init, no rebuild; Bench prices it as n20_cons_build) and
    // audited on BOTH axes the lifecycle cares about, each against
    // the honest comparator:
    //  - GRAPH quality, the consolidation's actual product: the new
    //    cohort's adjacency recall vs the exact l2 top-10 (the
    //    metric the lists store). The append leaves it at ~0.78 (no
    //    new<->new edges — each inserted point searched the prior
    //    stack only); consolidation must restore it to fresh-build
    //    level (~1.0 — SURVEY.md round 17: appended 0.778 ->
    //    consolidated 0.999 vs fresh 0.998 at sf0.01).
    //  - SERVE recall through the consolidated stack vs the SAME
    //    quarter-budget descent over the memoized FRESH full-corpus
    //    stack (s22's), identical tombstones and truth — so the
    //    "within a stated margin of fresh" claim is machine-checked
    //    per SF inside the pin itself, not argued in prose. (The
    //    quarter-budget descent is navigation-bound, not
    //    list-quality-bound: the appended stack's accidental
    //    long-range edges can serve ABOVE both — diversity, the n08
    //    occlusion trade — which is exactly why the serve pin alone
    //    would misread the consolidation and the adjacency axis is
    //    pinned alongside.)
    // n_dead structurally zero (the suppression anti-join).
    "n20_consolidated_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val cons = n20ConsolidatedStack(s, dir)
      val freshStack = s22LayerGraphs(s, dir)
      val dead = e.select("id").filter(col("id") % 7 === 3)
      val live = e.join(dead, Seq("id"), "left_anti")
      val q = live.filter(col("id") < 20)
      def serve(stk: Seq[DataFrame]): DataFrame =
        graft.ops.GraphSearch.searchHierarchical(stk, e, q, k = 10,
          beam = 8, hops = 2, entries = 4, upperBeam = 8, upperHops = 3,
          seeds = 4, tombstones = Some(dead)).localCheckpoint()
      // New-cohort adjacency audit in the lists' own metric (l2Sim).
      val nw = e.filter(col("id") % 5 === 0)
      val cc = e.select(col("id").as("nbr_id"), col("features").as("v_c"))
      val adjTruth = nw.select(col("id"), col("features").as("v_q"))
        .join(cc, col("id") =!= col("nbr_id"))
        .withColumn("sim", graft.functions.VectorFunctions.vector_l2_sim(
          col("v_q"), col("v_c")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")
            .orderBy(desc("sim"), asc("nbr_id"))))
        .filter(col("rk") <= 10)
        .select(col("id"), col("nbr_id"))
      val adjEdges = cons(0)
        .join(nw.select("id"), Seq("id"), "left_semi")
        .select(col("id"), explode(col("neighbors")).as("nb"))
        .select(col("id"), col("nb.id").as("nbr_id"))
      // The census's four pipelines (brute truth, the two serves, the
      // adjacency audit) are independent until the final one-row
      // combine — overlap their job chains (guide §2.6); each result
      // is checkpointed by its own branch, values unchanged.
      val Seq(truth, resCons, resFresh, adjCounts) =
        graft.core.Par.map(Seq[() => DataFrame](
          () => SimilaritySearch.bruteForceTopK(live, q, 10).localCheckpoint(),
          () => serve(cons),
          () => serve(freshStack),
          () => adjTruth
            .join(adjEdges.withColumn("hit", lit(1L)),
              Seq("id", "nbr_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0L)).as("n_adj_new_hits"),
              count(lit(1)).as("n_adj_new_total"))
            .localCheckpoint()))(f => f())
      recallCounts(resCons, truth)
        .select(col("n_hits").as("n_hits_cons"), col("n_total"))
        .crossJoin(recallCounts(resFresh, truth)
          .select(col("n_hits").as("n_hits_fresh")))
        .crossJoin(adjCounts)
        .crossJoin(resCons.join(dead.select(col("id").as("nbr_id")),
            Seq("nbr_id"), "left_semi")
          .agg(count(lit(1)).as("n_dead")))
        .select(col("n_hits_cons"), col("n_hits_fresh"), col("n_total"),
          col("n_adj_new_hits"), col("n_adj_new_total"), col("n_dead"))
    }),

    // Streaming serve over the APPENDED stack with live deletes
    // (st30 — the n18 lifecycle's online leg, completing the
    // serving triptych for the insert+delete regime): queries stream
    // per micro-batch through the layered descent over the memoized
    // n18 appended stack, tombstones suppress dead answers AND dead
    // queriers (liveQueriesOnly — the id space is shared, so a
    // deleted id must neither return nor ask). Per-query-independent
    // descent over static artifacts => drained results equal the
    // batch n18 search under any slicing (AnnServeSpec asserts row
    // equality, scores included), so st30 shares n18's pins by
    // construction.
    "st30_stack_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val appended = n18AppendedStack(s, dir)
      val dead = e.select("id").filter(col("id") % 7 === 3)
      val live = e.join(dead, Seq("id"), "left_anti")
      val q = live.filter(col("id") < 20)
      // Drain and brute-force truth are independent until the final
      // recall join — overlap them (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.streaming.AnnServe.layeredServe(s, dir, appended, e,
          k = 10, beam = 8, hops = 2, entries = 4, upperBeam = 8,
          upperHops = 3, seeds = 4, maxQueryId = 20,
          tombstones = Some(dead), liveQueriesOnly = true)
          .localCheckpoint(),
        SimilaritySearch.bruteForceTopK(live, q, 10).localCheckpoint())
      recallCounts(res, truth)
        .crossJoin(res.join(dead.select(col("id").as("nbr_id")),
            Seq("nbr_id"), "left_semi")
          .agg(count(lit(1)).as("n_dead")))
        .select(col("n_hits"), col("n_total"), col("n_dead"))
    }),

    // Hierarchical search over the PERSISTED layer stack (n16): the
    // s22 stack written to parquet once (manifest + per-layer graphs)
    // and reloaded — the durable serving-artifact lifecycle (n03/s14)
    // applied to the hierarchy. Parameters and pins identical to
    // s22's layered column because the narrow (id, neighbors) tables
    // round-trip parquet bit-exactly (OpsSpec asserts row equality).
    "n16_layered_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val p = layerStackPath(s, dir)
      val maxLevel = s.read.parquet(s"$p/meta").head().getInt(0)
      val layers = (0 to maxLevel).map(l => s.read.parquet(s"$p/layer_$l"))
      recallCounts(
        graft.ops.GraphSearch.searchHierarchical(layers, e, q, k = 10,
          beam = 8, hops = 2, entries = 4, upperBeam = 8, upperHops = 3,
          seeds = 4),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // Beam search over the PERSISTED graph artifact (n03): the n01
    // graph written to parquet once and reloaded — the durable
    // serving-graph lifecycle, search parameters and pins identical
    // to s03 because the narrow (id, neighbors) table round-trips
    // parquet bit-exactly.
    "n03_graph_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val g = s.read.parquet(s"${knnGraphPath(s, dir)}/graph")
        .filter(col("neighbors").isNotNull)
      recallCounts(
        graft.ops.GraphSearch.searchGraph(g, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16),
        SimilaritySearch.bruteForceTopK(e, q, 10))
    }),

    // DiskANN-style occlusion prune of the serving graph (Vamana
    // RobustPrune over the stored lists): keep only neighbors no
    // closer kept neighbor occludes — the diversity-preserving
    // sparsification that makes low-degree graphs navigable. The
    // summary prices the trade the operator sells: edges removed
    // (before/after) vs search recall over the PRUNED graph with s03's
    // exact serving parameters (n_hits directly comparable to s03's
    // pin — diversity holds the redundant cliques' recall at a
    // fraction of their edges). Operating point α = 1.0 (the strict
    // RNG rule): on this fixture's near-isotropic unit-norm
    // embeddings, neighbor-neighbor distances concentrate barely
    // above node-neighbor distances, so the DiskANN slack (α = 1.2,
    // built for clustered corpora) occludes almost nothing — the
    // strict rule is where the trade is priced; OpsSpec exercises the
    // α-knob on planted geometry.
    "n08_graph_prune" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val g = knnGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      // Consumed twice (edge census + every search hop) — checkpoint.
      val pruned = graft.ops.GraphSearch.pruneGraph(g, e, alpha = 1.0)
        .localCheckpoint()
      val before = g
        .select(size(col("neighbors")).cast("long").as("d"))
        .agg(sum(col("d")).as("n_edges_before"))
      val after = pruned
        .select(size(col("neighbors")).cast("long").as("d"))
        .agg(sum(col("d")).as("n_edges_after"))
      recallCounts(
        graft.ops.GraphSearch.searchGraph(pruned, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16),
        SimilaritySearch.bruteForceTopK(e, q, 10))
        .crossJoin(before).crossJoin(after)
    }),

    // DiskANN-style IN-LOOP construction prune (n08's occlusion rule
    // applied DURING the build via NND `Params.pruneAlpha` — the
    // Vamana shape, where pruning happens while building rather than
    // post-hoc): every iteration's merged lists prune at strict-RNG
    // α = 1.0 / maxDegree 12 (the honest occlusion point on this
    // isotropic fixture — α = 1.2 occludes nothing here), so degree
    // is bounded from the first adjacency join on. Pinned: search
    // recall over the in-loop-pruned artifact at s03's exact serving
    // parameters, the artifact's edge census (below n01's k·N), and
    // the DIRECT list recall vs the brute truth — the documented
    // price of in-loop pruning. At the small SFs the exhibit reads
    // as the DiskANN claim (search ≈0.98 over lists at ≈0.67 direct
    // recall — navigability over fidelity); at sf0.1 it prices the
    // honest counter-finding: 0.78 search recall where n09's
    // POST-HOC prune of the converged graph holds 0.96 at the same
    // α — see the pin comment.
    "n11_inloop_prune" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val g = inLoopPrunedGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      val census = g.agg(
        coalesce(sum(size(col("neighbors")).cast("long")), lit(0L))
          .as("n_edges"))
      val direct = recallCounts(
        g.select(col("id").as("query_id"), explode(col("neighbors")).as("nbr"))
          .select(col("query_id"), col("nbr.id").as("nbr_id")),
        bruteTruth(s, dir))
        .select(col("n_hits").as("n_list_hits"),
          col("n_total").as("n_list_total"))
      recallCounts(
        graft.ops.GraphSearch.searchGraph(g, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16),
        SimilaritySearch.bruteForceTopK(e, q, 10))
        .crossJoin(census).crossJoin(direct)
    }),

    // Graph-centrality corpus scoring (n12): exact fixed-point PageRank
    // (Page et al., 10 damped 85/100 power iterations, BIGINT 2^-20
    // rank units) over the n01 serving graph — the GLOBAL
    // representativeness signal on the engine's core artifact,
    // complementing per-document quality gates and diversity selectors.
    // Integer multiply/floor-divide throughout, so the summary is
    // bit-deterministic under any partitioning or aggregation order:
    // node count, total rank mass (order-independent BIGINT sum; the
    // gap below N·2^20 is the priced floor drift), the argmax node
    // (rank desc, id asc) with its rank, and the CONVERGENCE RESIDUAL —
    // the exact L1 delta between the last two iterations (2^-20 units),
    // so the fixed 10-iteration count is pinned evidence of
    // convergence, not convention (remaining distance to stationarity
    // is bounded by residual/(1-d)).
    // k-core membership census (n15, Seidman 1983): iterative peel of
    // the MUTUAL n01 serving graph at k = 6 — the structural-outlier
    // gate (fringe points whose neighborhoods evaporate under peeling)
    // next to the s15 distance-based score. Mutual, not
    // union-symmetrized: a directed k-NN graph has out-degree exactly
    // k everywhere, so its union form is degree >= k by construction
    // and peels all-or-nothing — reciprocity is where fringe structure
    // shows (the mutual-k-NN outlier-removal construction). A real,
    // multi-round gate: 442/500 in-core over 4 peel rounds at
    // sf0.001, 417/500 over 8 at sf0.01, 1694/2000 over 10 at sf0.1.
    // Pure integer degree arithmetic, count-driven driver fixpoint,
    // per-round lineage truncation (GraphSearch scale notes).
    "n15_kcore" -> ((s, dir) => {
      val core = graft.ops.GraphSearch.kCore(
        knnGraph(s, dir).select("id", "neighbors"), k = 6, mutual = true)
      core.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("in_core")).cast("long").as("n_in_core"),
        max(col("n_rounds")).cast("long").as("n_rounds"))
    }),

    "n12_pagerank" -> ((s, dir) => {
      val (pr, resid) = graft.ops.Centrality.pageRankWithResidual(
        knnGraph(s, dir).select("id", "neighbors"), iterations = 10)
      val top = pr.orderBy(desc("rank"), asc("id")).limit(1)
        .select(col("id").as("top_id"), col("rank").as("top_rank"))
      pr.agg(count(lit(1)).as("n_nodes"), sum(col("rank")).as("total_mass"))
        .crossJoin(top)
        .withColumn("l1_residual", lit(resid))
    }),

    // Personalized PageRank (n13, Page et al. §6 / Haveliwala 2002):
    // n12's seeded-teleport complement — restart AND dangling mass
    // flow only to the 16-document seed set, so rank concentrates
    // around the seeds: the seed-expansion selection signal ("find
    // documents like these trusted ones") on the serving graph. Same
    // exact fixed-point arithmetic, so every column is a
    // bit-deterministic fact: node count, total mass (conserved up to
    // floor drift, like n12), the mass held by the seeds themselves
    // (the locality evidence — 16/N of the corpus holding a far
    // larger share than uniform would give; compare n12 where no node
    // exceeds ~2·2^20), and the argmax node + rank.
    "n13_ppr" -> ((s, dir) => {
      val (pr, resid) = graft.ops.Centrality.pageRankWithResidual(
        knnGraph(s, dir).select("id", "neighbors"),
        Some(s.range(0, 16).toDF("id")), iterations = 10)
      val top = pr.orderBy(desc("rank"), asc("id")).limit(1)
        .select(col("id").as("top_id"), col("rank").as("top_rank"))
      val seedMass = pr.filter(col("id") < 16)
        .agg(sum(col("rank")).as("seed_mass"))
      pr.agg(count(lit(1)).as("n_nodes"), sum(col("rank")).as("total_mass"))
        .crossJoin(seedMass).crossJoin(top)
        .withColumn("l1_residual", lit(resid))
    }),

    // Edge-WEIGHTED PageRank (n14): rank flows in proportion to the
    // stored edge similarities instead of uniformly — similarity MASS
    // rather than membership, the natural refinement on a graph whose
    // edges carry trusted strengths. Still exact fixed point (weights
    // quantized once to BIGINT 2^-20 units, per-source sums exact,
    // contributions through an exact DECIMAL(38,0) product), so the
    // pins are facts; equal weights provably reduce to n12
    // BIT-FOR-BIT (OpsSpec), which anchors the semantics. Compare the
    // pins against n12's: on this isotropic fixture the argmax HOLDS
    // (near-uniform similarities barely tilt the flow) while every
    // rank value moves — the honest exhibit; OpsSpec carries the
    // skewed-weight fixture where the argmax genuinely flips.
    "n14_weighted_pagerank" -> ((s, dir) => {
      val (pr, resid) = graft.ops.Centrality.pageRankWithResidual(
        knnGraph(s, dir).select("id", "neighbors"), iterations = 10,
        weighted = true)
      val top = pr.orderBy(desc("rank"), asc("id")).limit(1)
        .select(col("id").as("top_id"), col("rank").as("top_rank"))
      pr.agg(count(lit(1)).as("n_nodes"), sum(col("rank")).as("total_mass"))
        .crossJoin(top)
        .withColumn("l1_residual", lit(resid))
    }),

    // Pruned-graph SERVING (n08's artifact put to work — the n03
    // persist/reload lifecycle on the occlusion-pruned graph): the
    // α = 1.0 prune of the n01 graph is written to parquet once
    // (Bench's n09_prune_build phase) and searches serve from the
    // RELOADED artifact at s03's exact parameters — the DiskANN
    // deployment shape, where the low-degree diverse graph is what
    // production actually serves (≈18% fewer edges fetched per beam
    // hop at ≤1-hit recall cost vs s03; OpsSpec measures the
    // search-shuffle drop and asserts the artifact round-trips
    // row-identically). Census columns pin the loaded artifact's
    // shape next to the recall.
    "n09_pruned_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 20)
      val g = s.read.parquet(s"${prunedGraphPath(s, dir)}/graph")
      val census = g.agg(
        count(lit(1)).as("n_nodes"),
        coalesce(sum(size(col("neighbors")).cast("long")), lit(0L))
          .as("n_edges"))
      recallCounts(
        graft.ops.GraphSearch.searchGraph(g, e, q, k = 10,
          beam = 32, hops = 4, seeds = 16),
        SimilaritySearch.bruteForceTopK(e, q, 10))
        .crossJoin(census)
    }),

    // Partition-GATED serving — the reference's core data-model
    // semantic (similarity across logical partitions is -Infinity,
    // `/root/reference/.../NND.scala:296-306`) under a driver oracle:
    // a two-partition corpus (partition = id % 2), its own NND graph
    // (n10_part_build), and the partitioned beam-search path (entry
    // points drawn PER partition, candidates score-gated to the
    // query's partition). n_cross pins the isolation contract at
    // literally zero — no result may cross partitions, ever — and
    // recall is measured against the PARTITION-RESTRICTED brute truth
    // (the correct ground truth under the gate). OpsSpec carries the
    // planted adversarial fixture; this puts the CORRECTNESS gate on
    // the contract at fixture scale.
    "n10_partitioned_search" -> ((s, dir) => {
      val e2 = emb(s, dir).withColumn("partition", pmod(col("id"), lit(2L)))
      val g = partitionedGraph(s, dir)
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
      val q = e2.filter(col("id") < 20)
      // Serve and the two per-partition brute truths overlapped
      // (guide §2.6).
      val (res, truth) = graft.core.Par.pair(
        graft.ops.GraphSearch.searchGraph(
          g, e2.select("id", "features", "partition"),
          q.select("id", "features", "partition"), k = 10,
          beam = 32, hops = 4, seeds = 16).localCheckpoint(),
        Seq(0L, 1L).map { p =>
          SimilaritySearch.bruteForceTopK(
            e2.filter(col("partition") === p).select("id", "features"),
            q.filter(col("partition") === p).select("id", "features"), 10)
        }.reduce(_ unionByName _).localCheckpoint())
      val crossed = res
        .join(q.select(col("id").as("query_id"),
          col("partition").as("q_part")), "query_id")
        .join(e2.select(col("id").as("nbr_id"),
          col("partition").as("nbr_part")), "nbr_id")
        .agg(count(lit(1)).as("n_results"),
          coalesce(sum(when(col("nbr_part") =!= col("q_part"), 1L)
            .otherwise(0L)), lit(0L)).as("n_cross"))
      recallCounts(res, truth).crossJoin(crossed)
    }),

    // Label-noise audit over the prebuilt K-NN graph (confident-
    // learning shape): each node's label vs the deterministic majority
    // label of its graph neighborhood. On this fixture the label
    // column is geometric NOISE — the audit correctly reports ~1/10
    // consistency (chance for 10 balanced classes), exactly the signal
    // that tells a pipeline the labels cannot be trusted for
    // embedding-space methods; OpsSpec shows the same audit reading
    // ~1.0 on a cluster-labeled corpus. Reuses the memoized n01
    // artifact — the audit itself never touches features (edge-table-
    // sized shuffle only).
    // Label propagation from a 10% seed set over the prebuilt n01
    // graph (Zhu & Ghahramani hard-clamp majority; n04's constructive
    // sibling). Census: seeds, total labeled, propagated, and
    // propagated-correct vs the withheld true labels — on this
    // fixture's geometry-free labels the accuracy is ~chance, the
    // honest reading (OpsSpec shows ~1.0 on a cluster-labeled corpus).
    "n05_label_propagation" -> ((s, dir) => {
      val labels = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("label").cast("int").as("lab"))
      val seeds = labels.filter(col("id") % 10 === 0)
      val out = graft.ops.GraphSearch
        .labelPropagation(knnGraph(s, dir), seeds, iters = 5)
      out.join(labels.select(col("id"), col("lab").as("true_lab")), "id")
        .agg(count(lit(1)).as("n_labeled"),
          sum(when(col("round") === 0, 1L).otherwise(0L)).as("n_seeds"),
          sum(when(col("round") > 0, 1L).otherwise(0L)).as("n_propagated"),
          sum(when(col("round") > 0 && col("lab") === col("true_lab"), 1L)
            .otherwise(0L)).as("n_propagated_correct"))
    }),

    "n04_label_audit" -> ((s, dir) => {
      val labels = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("label").cast("int").as("lab"))
      graft.ops.GraphSearch.labelConsistency(knnGraph(s, dir), labels)
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("consistent"), 1L).otherwise(0L)).as("n_consistent"))
    }),

    // The NND K-NN graph: pinned whole-graph recall summary — every
    // node's neighbor list vs the exact brute-force top-10 (NND is
    // hash-seeded and partition-invariant, NNDSpec-asserted, so the
    // count is a fixed fact). The operational artifact is the memoized
    // knnGraph (linear construction — Bench times it as
    // n01_graph_build); the exact all-pairs ground truth here is the
    // VERIFIER, deliberately exhaustive and bounded to the fixture.
    "n01_knn_graph" -> ((s, dir) => {
      val edges = knnGraph(s, dir)
        .filter(col("neighbors").isNotNull)
        .select(col("id").as("query_id"), explode(col("neighbors")).as("nbr"))
        .select(col("query_id"), col("nbr.id").as("nbr_id"))
      recallCounts(edges, bruteTruth(s, dir))
    }),

    // Incremental K-NN maintenance: the held-out 20% appended via
    // updateGraph against the memoized 80% prior — the daily-append
    // production shape; the prior is a prebuilt artifact (Bench times
    // it as n02_prior_build), so this query measures the UPDATE phase.
    // Pinned summary splits recall over NEW nodes (id%5==0, the
    // appended batch) and OLD nodes (whose lists must absorb the new
    // arrivals) — both vs the full-corpus brute force.
    // Graph health audit over the n01 serving graph: the rebuild
    // trigger of the n06 append lifecycle (reciprocity decays as
    // one-directional appended edges accumulate; OpsSpec measures the
    // decay on an appended graph). Deterministic fact of the graph —
    // pinned.
    "n07_graph_health" -> ((s, dir) =>
      graft.ops.GraphSearch.graphHealth(knnGraph(s, dir))),

    // n06 at INGEST TIME: new points beam-attach per micro-batch
    // against the resident prior graph (foreachBatch, zero stream
    // state); per-query independence makes the drained lists equal
    // the batch append under any slicing — shares n06's pins.
    "st22_graph_append_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val prior = n02Prior(s, dir)
      val newLists = graft.streaming.AnnServe.graphAppendServe(
        s, dir, prior, e.filter(col("id") % 5 =!= 0))
      val appended = prior.select("id", "neighbors")
        .unionByName(newLists.select("id", "neighbors"))
      val edges = appended.filter(col("neighbors").isNotNull)
        .select(col("id").as("query_id"), explode(col("neighbors")).as("nbr"))
        .select(col("query_id"), col("nbr.id").as("nbr_id"))
      bruteTruth(s, dir).filter(col("query_id") % 5 === 0)
        .join(edges.withColumn("hit", lit(1L)),
          Seq("query_id", "nbr_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits_new"),
          count(lit(1)).as("n_total_new"))
    }),

    // Append-only small-increment alternative to n02 (the path
    // updateGraph's cost model routes tiny appends to): new points
    // attach via beam search over the PRIOR graph, old lists
    // byte-untouched. Recall here is measured against the FULL-corpus
    // truth, so it prices the documented staleness (new<->new links
    // absent until the next scheduled rebuild) on top of beam-search
    // recall — deliberately the honest number, below n02's refined
    // recall and far above useless.
    "n06_graph_append" -> ((s, dir) => {
      val e = emb(s, dir)
      // Wider beam than s03's in-graph serving defaults: an
      // out-of-graph query has no self-adjacency shortcut, so the
      // search must actually navigate (sf0.1 sweep: recall 0.39 at
      // beam 20/hops 3/seeds 8 -> 0.65 at 40/4/8 -> 0.75 at 64/5/16,
      // ~0.94 of the 0.8 reachable ceiling, flat wall).
      val appended = graft.ops.GraphSearch.appendToGraph(
        n02Prior(s, dir), e.filter(col("id") % 5 =!= 0),
        e.filter(col("id") % 5 === 0), k = 10,
        beam = 64, hops = 5, seeds = 16)
      val edges = appended.filter(col("neighbors").isNotNull)
        .select(col("id").as("query_id"), explode(col("neighbors")).as("nbr"))
        .select(col("query_id"), col("nbr.id").as("nbr_id"))
      bruteTruth(s, dir).filter(col("query_id") % 5 === 0)
        .join(edges.withColumn("hit", lit(1L)),
          Seq("query_id", "nbr_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits_new"),
          count(lit(1)).as("n_total_new"))
    }),

    "n02_knn_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      // 5 update iterations against the converged (5-iteration, same as
      // n01) prior: the sf0.1 sweep measured new-node recall 0.83 at 3
      // iterations, 0.91 at 4, 0.93 at 5, 0.931 at 6 — the plateau
      // matches the full-rebuild n01 quality (0.94), so 5 is where the
      // increment is fully absorbed; each extra iteration costs ~1s at
      // this corpus. Wider init (bucketsPerInstance 8) converges to the
      // same plateau and buys nothing at 5 iterations.
      val edges = graft.nnd.NND.updateGraph(e, n02Prior(s, dir),
          graft.nnd.NND.Params(k = 10, maxIterations = 5))
        .filter(col("neighbors").isNotNull)
        .select(col("id").as("query_id"), explode(col("neighbors")).as("nbr"))
        .select(col("query_id"), col("nbr.id").as("nbr_id"))
      bruteTruth(s, dir)
        .join(edges.withColumn("hit", lit(1L)), Seq("query_id", "nbr_id"), "left")
        .withColumn("is_new", (col("query_id") % 5 === 0).cast("long"))
        .agg(
          sum(col("is_new") * coalesce(col("hit"), lit(0L))).as("n_hits_new"),
          sum(col("is_new")).as("n_total_new"),
          sum((lit(1L) - col("is_new")) * coalesce(col("hit"), lit(0L))).as("n_hits_old"),
          sum(lit(1L) - col("is_new")).as("n_total_old"))
    })
  )

  /** Bench-only phases (no oracle surface — these exist so the DRIVER's
    * bench artifact, not just OpsSpec, records the hot-shingle skew
    * inversion): the documents fixture with a stop-phrase prepended to
    * every row, so a handful of shingles hit df = N. The naive shingle
    * self-join would fan out df² on those keys; the df-capped exact
    * join (d02's path) drops them outright, and the PPJoin prefix
    * filter (d08's path) generates candidates from the RARE end.
    * Bench runs both — d08_skewed's shuffle must stay in d02_skewed's
    * league, never the naive blow-up (OpsSpec measures naive 667 KB vs
    * prefix 195 KB / df-cap 201 KB shuffle-write on its fixture). */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = {
    def skewedDocs(s: SparkSession, dir: String): DataFrame =
      docs(s, dir).withColumn("text",
        concat(lit("the quick brown fox jumps over "), col("text")))
    Map(
      "d02_skewed_dfcap" -> ((s, dir) =>
        ops.Dedup.jaccardPairs(skewedDocs(s, dir), "doc_id", "text", 0.7,
          maxDocFraction = Some(0.1))),
      "d08_skewed_prefix" -> ((s, dir) =>
        ops.Dedup.jaccardPairsPrefix(skewedDocs(s, dir), "doc_id", "text", 0.7)),
      // Hot-vocabulary heavy hitters: the prepended stop-phrase makes
      // six terms own ~37% of the token stream. The Misra-Gries path
      // keeps shuffle ≤ capacity counters/partition + ≤ capacity
      // recount keys regardless of the hot mass (TrainPrepSpec
      // measures the naive groupBy shuffling the whole vocabulary).
      "t12_skewed_hot" -> ((s, dir) =>
        ops.HeavyHitters.frequentTerms(skewedDocs(s, dir),
          split(col("text"), " "), 1L, 100L)),
      // Hot-span corpus: the prepended stop-phrase plants corpus-wide
      // duplicated trigrams in EVERY document. dupSpanStats stays
      // linear by construction — the span stream is generated, df'd
      // with partial agg, and counted per doc; no pairwise expansion
      // exists for the hot span to blow up (contrast the naive
      // pairs-by-shared-span join, quadratic here).
      "d12_skewed_dupspan" -> ((s, dir) =>
        ops.Dedup.dupSpanStats(skewedDocs(s, dir), "doc_id", "text")),
      // Hot-span REMOVAL (d13's scale witness — the round-8 dedup
      // heavyweight gets its own exhibit): the stop-phrase makes every
      // document a scrub target, the worst case for the touched-doc
      // carve-out. Still strictly linear — span df partial-aggs
      // map-side, the scrub sliver is one row per (doc, hot span),
      // coverage fans out <= n positions per occurrence, and the
      // rebuild explodes each touched document exactly once; no
      // pairwise stage exists for the df = N span to blow up (OpsSpec
      // measures ~linear shuffle under 10x document-mass tiling).
      "d13_skewed_removal" -> ((s, dir) =>
        ops.Dedup.dupSpanRemove(skewedDocs(s, dir), "doc_id", "text")),
      // Hot LONG-substring removal (d18's scale witness): a 24-token
      // passage prepended to every document makes five of each doc's
      // 20-token window keys corpus-hot and every document a scrub
      // target — worst case for both the key-count aggregation and
      // the touched-doc carve-out. Still linear: counts partial-agg
      // map-side, the exact-text verify runs once per candidate
      // anchor, coverage fans out <= W per occurrence (OpsSpec
      // measures ~linear shuffle under 10x document-mass tiling).
      "d18_skewed_substr" -> ((s, dir) =>
        ops.Dedup.exactSubstrRemove(
          docs(s, dir).withColumn("text", concat(
            lit(Seq.fill(4)("the quick brown fox jumps over").mkString(" ") + " "),
            col("text"))),
          "doc_id", "text", minLen = 20)),
      // Hot cross-set decontamination (d19's scale witness — d18's
      // worst case in cross-set form): EVERY corpus document opens
      // with a passage the single benchmark document contains, so
      // every document is a scrub target and five window keys per
      // document hit the broadcast benchmark key set. Still linear:
      // the corpus side is never shuffled by content, the benchmark
      // carriers broadcast, the text verify runs once per candidate
      // anchor, coverage fans out <= W per occurrence (OpsSpec
      // measures ~linear shuffle under 10x document-mass tiling).
      "d19_skewed_decon" -> ((s, dir) => {
        val hot = Seq.fill(4)("the quick brown fox jumps over").mkString(" ")
        ops.Dedup.substrDecontaminate(
          docs(s, dir).withColumn("text", concat(lit(hot + " "), col("text"))),
          docs(s, dir).limit(1)
            .select(col("doc_id"), lit(s"leak $hot end").as("text")),
          "doc_id", "text", minLen = 20)
      }),
      // Zipf-heavy BPE training: the prepended stop-phrase makes six
      // words own ~37% of the token stream. The trainer's one corpus
      // pass partial-aggregates to the word-frequency table (map-side
      // combine keeps the shuffle vocabulary-sized however hot the
      // head), and every merge round then shuffles only the pair table
      // of that vocabulary-sized word list — token mass never crosses
      // the wire again (TrainPrepSpec measures shuffle invariance to a
      // 50x token-mass inflation at fixed vocabulary).
      "t26_skewed_bpe" -> ((s, dir) =>
        ops.TextAnalysis.bpeMerges(skewedDocs(s, dir), "text", 20)),
      // Zipf-heavy trigram LM: the stop-phrase plants corpus-wide hot
      // trigrams in EVERY document. The model build partial-aggregates
      // map-side (hot keys combine before the wire — the shuffle is
      // n-gram-vocabulary-sized however hot the head), the score table
      // stays model-sized, and the scoring join's per-document sums
      // combine map-side too. No pairwise expansion exists anywhere
      // for a hot trigram to blow up.
      "t34_skewed_trigram" -> ((s, dir) =>
        ops.TextAnalysis.backoffTrigramLogProb(skewedDocs(s, dir))),
      // Zipf-heavy multiclass training (t32's scale witness — the
      // heaviest bench phase gets the same exhibit as t26/t34): the
      // stop-phrase plants six white-hot hashed feature buckets in
      // EVERY document. Both training shuffles are feature-keyed with
      // map-side combine — curvature dim²-bounded (one scan ever),
      // gradient (dim+1)-keyed carrying |classes| sum columns per
      // iteration — so hot buckets collapse per partition before the
      // wire and the shuffle stays flat however hot the head
      // (TrainPrepSpec measures invariance to 10x document-mass
      // tiling at fixed feature width).
      "t32_skewed_langid" -> ((s, dir) =>
        ops.Classifier.multiclassSummary(
          ops.TextAnalysis.languageId(skewedDocs(s, dir)), col("pred_lang"),
          ops.TextAnalysis.langProfiles.map(_._1), dim = 256)),
      // Bucketing exhibit (alphabetical order runs the build first):
      // identical sort-merge aggregation over (lineitem x orders), once
      // from the pre-bucketed tables (join shuffles NEITHER side — the
      // shuffle-once-at-ingest contract a 100 TB fact table needs) and
      // once from raw parquet (both sides exchange). Shuffle-bytes
      // telemetry is the metric; PlanSpec pins the exchange shapes.
      "j01_bucket_build" -> ((s, dir) => {
        val (li, _) = bucketedTableNames(s, dir)
        s.table(li).limit(1)
      }),
      "j01_bucketed_join" -> ((s, dir) => {
        val (li, ord) = bucketedTableNames(s, dir)
        j01Agg(s.table(li), s.table(ord))
      }),
      "j01_shuffled_join" -> ((s, dir) =>
        j01Agg(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")))))
  }

  /** Pinned-literal oracle builder: one row of BIGINT columns whose
    * values are selected per scale factor via lineitem's row count (the
    * only fixture table whose cardinality distinguishes all three SFs —
    * documents/embeddings tie at sf0.001 vs sf0.01). */
  private def pinnedCounts(cols: (String, (Long, Long, Long))*): String =
    cols.map { case (name, (v001, v01, v1)) =>
      s"CAST(CASE (SELECT count(*) FROM lineitem) WHEN 6000 THEN $v001 " +
        s"WHEN 60000 THEN $v01 WHEN 600000 THEN $v1 END AS BIGINT) AS $name"
    }.mkString("SELECT ", ", ", "")

  /** Single source of truth for the pinned-literal oracles of the
    * hash-dependent approximate ops: measured per-column values at
    * (sf0.001, sf0.01, sf0.1). Both the DuckDB SQL oracles (via
    * [[pinnedCounts]], spliced into [[pipelineOracles]]) and the local
    * `PinsSpec` sbt-test gate derive from this table, so any behavior
    * drift — a re-tuned ANN default, a changed hash — goes red in
    * `sbt test` until re-measured (the round-3/4 process hole: pins
    * lived only in SQL strings no test executed).
    *
    * Re-measure with `sbt "runMain graft.tools.PinDump"` (runs every
    * pinned query at all three SFs and prints this table's literal
    * syntax) and paste the output here IN THE SAME COMMIT as the
    * behavior change. Last measured 2026-08-13 (round 6, all queries,
    * zero drift) at lshTopK planes=8/tables=24/radius=1, ivfTopK
    * nCells=32/nProbe=16. NND family (n01-n07, s03, st22) re-measured
    * 2026-08-14 (round 9) across the double-subtraction kernel
    * unification, the n06 L2 beam, and the updateGraph finished-point
    * purge: zero drift at all three SFs — the fixture's floats never
    * flip a ranking on the <=1-ulp kernel move, its near-uniform norms
    * make cosine and L2 beam membership coincide (the metric-mix fix
    * shows up on norm-skewed data only, pinned in OpsSpec), and the
    * purge subtree folds away when nothing is finished. */
  /** Query-id REGISTRY (round-15 VERDICT bookkeeping): every name-keyed
    * artifact — the bench guard's prior medians, the pin table below,
    * the DuckDB oracles, the driver's CORRECTNESS entries — joins on
    * the FULL query name, so a rename silently decouples a query from
    * its history unless it is recorded here. Rules:
    *  - ids are never reused: a gapped id stays a GAP in its family's
    *    numbering forever (its old artifacts keep meaning what they
    *    meant). Gaps so far: q35 (q35_rollup removed as a duplicate of
    *    q09_rollup, commit 24f151c) and d20 (never assigned — the d
    *    family numbering skipped from d19 to d21).
    *  - one numeric prefix normally maps to one declared query; t45 is
    *    the deliberate exception (t45_capped_pairs / t45_winnow_pairs
    *    are the two halves of one winnowing exhibit and share the id).
    *  - [[benchOnly]] exhibits and Bench's build phases REUSE a
    *    declared id's prefix with a distinct full name on purpose
    *    (d13_skewed_removal prices d13's worst case; n01_graph_build
    *    prices n01's artifact) — the shared prefix is the link, the
    *    distinct full name keeps their artifacts separate.
    * ContractSpec asserts all three rules against the declared maps,
    * so a rename or an id reuse goes red instead of silently orphaning
    * a phase's prior median.
    *
    * PRIOR-SEMANTICS CHANGES (ratio archaeology; round-16 VERDICT
    * bookkeeping — a guard ratio against a prior from before the listed
    * round compares different WORK, not a regression):
    *  - round 16: `n18_append_build` split — before r16 the phase wall
    *    included the one-off PRIOR-stack build; from r16 the prior
    *    stack is a separate memo and the phase prices the append alone,
    *    evicted per rerun (real builds, not cache hits). Same round,
    *    every `*_build` phase's rerun gained per-sample eviction +
    *    probe telemetry — pre-r16 build medians mixed cache-hit reruns.
    *  - round 16: `st29_layered_serve` gained the per-query frontier
    *    fallback (plan-identical in the common case, but the phase
    *    first appeared with an unconditional fallback mid-round; the
    *    in-round A/B that removed it is SURVEY.md:1550-1565).
    *  - round 17: baseline re-frozen quiet-host with durable
    *    samples+probes (the {med,samples,probes} shape); prior medians
    *    before the re-freeze carried arbitrary-session host load —
    *    r16's six false code-suspect flags (all adjudicated
    *    environmental, VERDICT r16) are the exhibit.
    *  - round 17: `n20_cons_build` is new (no prior); it prices
    *    consolidation over the memoized n18 appended stack. */
  val retiredQueryIds: Set[String] = Set("q35", "d20")

  /** Declared-query prefixes that intentionally carry more than one
    * query (see [[retiredQueryIds]]'s registry note). */
  val sharedQueryPrefixes: Set[String] = Set("t45")

  val pinnedValues: Seq[(String, Seq[(String, (Long, Long, Long))])] = Seq(
    "s02_ann_lsh" -> Seq(
      "n_hits" -> (177L, 191L, 190L), "n_total" -> (200L, 200L, 200L)),
    // n_hits here is the MMR-vs-relevance-top-10 OVERLAP, not a recall:
    // strictly below n_total proves λ=0.7 really displaced redundant
    // hits on every fixture (OpsSpec carries the λ=1 exact reduction).
    // Measured 2026-08-14 (round 8, PinDump): λ=0.7 keeps ~73% of the
    // relevance top-10 and displaces the rest with diverse hits.
    "s17_mmr_diversify" -> Seq(
      "n_hits" -> (146L, 150L, 143L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-14 (round 8, PinDump). n_repetitive = 0 is the
    // honest census: the synthetic fixture plants exact-dup DOCS, not
    // within-doc repetition, so nothing deflates below the production
    // 0.25 threshold (the planted-repetitive case lives in TrainPrepSpec);
    // the incompressible tail is the short-doc deflate-overhead cohort.
    "t39_compression" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "sum_comp" -> (72598L, 71349L, 710682L),
      "n_repetitive" -> (0L, 0L, 0L),
      "n_incompressible" -> (39L, 30L, 352L)),
    "s03_graph_search" -> Seq(
      "n_hits" -> (199L, 199L, 193L), "n_total" -> (200L, 200L, 200L)),
    // The s22 discriminating pair: layered search at a QUARTER of
    // s03's base-layer budget vs the flat search at that same reduced
    // budget — navigated entry points hold 2-5x the flat recall
    // (160 vs 31 at sf0.1, within 17% of s03's wide-beam 193 at 4x
    // the budget; the residual gap is the fixture's near-isotropic
    // geometry, greedy descent's worst case — the s13 IVF caveat).
    // OpsSpec carries the clustered-geometry exhibit where the
    // quarter-budget descent BEATS the wide beam. Re-measured
    // 2026-08-16 after the round-15 self-review seed fix (top-layer
    // seeds drawn from the layer, not the full corpus: 122 -> 160 at
    // sf0.1).
    "s22_layered_search" -> Seq(
      "n_hits_layered" -> (192L, 175L, 160L),
      "n_hits_flat" -> (50L, 85L, 31L),
      "n_total" -> (200L, 200L, 200L)),
    // = s22's layered hits by construction (same stack, same queries,
    // same budget — only the corpus SCAN's layout differs), with the
    // two-way row-divergence count structurally zero: the bucketed
    // table is the same floats round-tripped through parquet and
    // every serve kernel is deterministic. Divergence here is a bug,
    // not drift (the n16 convention).
    "s23_bucketed_serve" -> Seq(
      "n_hits_bucketed" -> (192L, 175L, 160L),
      "n_total" -> (200L, 200L, 200L),
      "n_rows_diverging" -> (0L, 0L, 0L)),
    // = s22's layered column by construction: the persisted stack's
    // narrow tables round-trip parquet exactly (OpsSpec asserts row
    // equality on a fresh build), so divergence between these two pin
    // rows is a bug, not drift.
    "n16_layered_persisted" -> Seq(
      "n_hits" -> (192L, 175L, 160L), "n_total" -> (200L, 200L, 200L)),
    // = s22/n16 by construction (per-query-independent descent over
    // the same reloaded stack; AnnServeSpec asserts drained-vs-batch
    // row equality, scores included).
    "st29_layered_serve" -> Seq(
      "n_hits" -> (192L, 175L, 160L), "n_total" -> (200L, 200L, 200L)),
    // n_dead is structurally zero (the suppression anti-join); the pin
    // keeps it asserted. Recall is vs the LIVE-corpus brute truth with
    // live queries (17-18 of the first 20 ids survive id % 7 == 3).
    // Measured 2026-08-16 (round 15, PinDump): recall 0.95-0.97 vs the
    // live-corpus truth — serving THROUGH the tombstones holds
    // s03-grade recall with 14% of the corpus deleted and no rebuild.
    "n17_tombstone_serve" -> Seq(
      "n_hits" -> (165L, 166L, 161L),
      "n_total" -> (170L, 170L, 170L),
      "n_dead" -> (0L, 0L, 0L)),
    // The full serve-between-rebuilds lifecycle (hierarchical INSERT
    // with reverse edges + tombstoned deletes + layered descent) vs
    // the LIVE full-corpus brute truth: prices append staleness (no
    // new<->new links until rebuild) plus delete suppression on top
    // of s22-grade descent recall. n_dead structurally zero (the
    // suppression anti-join). Measured 2026-08-16 (round 16, PinDump).
    "n18_stack_append_serve" -> Seq(
      "n_hits" -> (141L, 138L, 130L),
      "n_total" -> (170L, 170L, 170L),
      "n_dead" -> (0L, 0L, 0L)),
    // n_nest_violations is structurally zero (appendToGraphStack
    // inserts into every layer <= level, so levels keep nesting);
    // min reciprocity stays well above zero because the insert's
    // reverse edges keep appended layers reciprocal (the OpsSpec
    // flat-vs-stack witness). Measured 2026-08-16 (round 16, PinDump).
    "n19_stack_health" -> Seq(
      "n_layers" -> (3L, 3L, 4L),
      "n_nodes_total" -> (670L, 670L, 2669L),
      "n_edges_total" -> (6360L, 6360L, 25352L),
      "n_nest_violations" -> (0L, 0L, 0L),
      "min_reciprocity_fp" -> (854016L, 835584L, 784322L)),
    // The consolidation's two audited axes, comparators inside the
    // pin: (1) n_adj_new_* — the new cohort's base-layer adjacency
    // recall (the consolidation's product; the append leaves ~0.78,
    // fresh builds ~1.0 — SURVEY.md round 17); (2) n_hits_cons vs
    // n_hits_fresh — the quarter-budget serve through the consolidated stack vs
    // the SAME descent over the memoized fresh s22 stack, identical
    // tombstones and live-corpus truth, so "within margin of fresh"
    // is machine-checked per SF — measured margin: ±1 hit at every
    // SF (the appended stack serves 138 at sf0.01, ABOVE both fresh
    // and consolidated: quarter-budget descent rewards its
    // accidental long-range edges — see the declared query's
    // scaladoc). n_dead structurally zero. Measured 2026-08-16
    // (round 17, PinDump).
    "n20_consolidated_serve" -> Seq(
      "n_hits_cons" -> (141L, 129L, 129L),
      "n_hits_fresh" -> (141L, 128L, 130L),
      "n_total" -> (170L, 170L, 170L),
      "n_adj_new_hits" -> (998L, 999L, 3841L),
      "n_adj_new_total" -> (1000L, 1000L, 4000L),
      "n_dead" -> (0L, 0L, 0L)),
    // = n18 by construction (per-query-independent descent over the
    // same memoized appended stack and tombstone set; AnnServeSpec
    // asserts drained-vs-batch ROW equality, scores included) — the
    // s22/n16/st29 shared-pin convention applied to the appended
    // stack.
    "st30_stack_serve" -> Seq(
      "n_hits" -> (141L, 138L, 130L),
      "n_total" -> (170L, 170L, 170L),
      "n_dead" -> (0L, 0L, 0L)),
    // = s03 by construction: the persisted (id, neighbors) table
    // round-trips parquet exactly, so the loaded-graph search emits
    // s03's rows (OpsSpec asserts row equality on a fresh build).
    "n03_graph_persisted" -> Seq(
      "n_hits" -> (199L, 199L, 193L), "n_total" -> (200L, 200L, 200L)),
    "s04_ann_ivf" -> Seq(
      "n_hits" -> (166L, 167L, 170L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): equals s04 by
    // construction — the streaming serve path produces the batch IVF
    // search's exact rows (AnnServeSpec asserts row equality), so any
    // divergence between these two pin rows is a bug, not drift.
    "st10_ann_serve" -> Seq(
      "n_hits" -> (166L, 167L, 170L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): equals s04 by
    // construction — floats round-trip parquet exactly, so the loaded
    // index reproduces the in-memory search bit-for-bit (OpsSpec
    // asserts row equality and scan pruning).
    "s14_ann_ivf_persisted" -> Seq(
      "n_hits" -> (166L, 167L, 170L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): recall within a few
    // hits of s04/s14 (166/167/170) — the 80%-trained cell geometry
    // costs almost nothing on this fixture; at sf0.1 the appended
    // index actually edges out the full-corpus fit (172 vs 170, a
    // benign init artifact of the different training sample).
    "s16_ann_ivf_appended" -> Seq(
      "n_hits" -> (164L, 160L, 172L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump). Identical to the s04
    // cosine-IVF pins because the fixture's norms are near-uniform —
    // the augmented tail is ~0 and MIPS truth coincides with cosine
    // truth; the reduction's exactness on norm-SKEWED data is pinned
    // separately in OpsSpec (full-probe run equals exact MIPS).
    "s09_mips_ivf" -> Seq(
      "n_hits" -> (166L, 167L, 170L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): filtered recall tracks
    // the unfiltered IVF operating point (0.83–0.85) within a few
    // hits — the pre-filter thins cells uniformly on the isotropic
    // fixture, as the scaladoc predicts.
    "s08_ann_filtered" -> Seq(
      "n_hits" -> (158L, 158L, 162L), "n_total" -> (200L, 200L, 200L)),
    "s05_ann_quantized" -> Seq(
      "n_hits" -> (200L, 200L, 200L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump). PQ8x256 + refine=16 on
    // the isotropic fixture: 8-byte codes rank well enough that the
    // exact re-rank recovers nearly all of brute force — quantization
    // error averages out over 8 independent subspaces, unlike s10's
    // width cut which loses signal coherently.
    "s11_ann_pq" -> Seq(
      "n_hits" -> (200L, 200L, 196L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): τ_fp = 4050 prunes
    // 5.8–9.5% across SFs — the far tail of the isotropic fixture's
    // distance band (p50 ≈ 3830, max ≈ 4250), a real prune that keeps
    // the corpus.
    "s15_semantic_outliers" -> Seq(
      "n_kept" -> (469L, 471L, 1811L),
      "n_pruned" -> (31L, 29L, 189L),
      "n_points" -> (500L, 500L, 2000L)),
    // = s15 by construction: the streaming prune applies the same
    // fitted centroids through the same fixed-point projection
    // (Clustering.assignDistance), so the drained census is the batch
    // census (any divergence is a bug, not drift).
    "st12_stream_prune" -> Seq(
      "n_kept" -> (469L, 471L, 1811L),
      "n_pruned" -> (31L, 29L, 189L),
      "n_points" -> (500L, 500L, 2000L)),
    "s07_kmeans_clusters" -> Seq(
      "n_points" -> (500L, 500L, 2000L),
      "n_clusters_nonempty" -> (8L, 8L, 8L),
      "largest_cluster" -> (80L, 76L, 284L),
      "inertia_fp" -> (1901313L, 1901531L, 7781125L)),
    // Measured 2026-08-13 (round 6, PinDump): the documents fixture
    // draws from a 31-term vocabulary at every SF, and HLL++ at rsd
    // 0.02 is exact at this cardinality (sparse mode), so the
    // estimate pins equal the exact counts.
    "t14_vocab_estimate" -> Seq(
      "n_exact" -> (31L, 31L, 31L), "n_approx" -> (31L, 31L, 31L)),
    // Measured 2026-08-13 (round 7, PinDump). The rule list is a pure
    // function of the corpus (integer counts, total argmax order);
    // rules_fp is the rolling hash of the ordered "left>right;" rules.
    "t26_bpe_merges" -> Seq(
      "n_rules" -> (20L, 20L, 20L),
      "total_count" -> (34968L, 33950L, 336099L),
      "rules_fp" -> (972256220L, 883996626L, 761560261L)),
    // Measured 2026-08-14 (round 8, PinDump). The vocabulary is a pure
    // function of the corpus (hard-EM with exact counts and total
    // tie-breaks); vocab_fp is the rolling hash of the canonical
    // piece-asc "piece:count:lp;" list.
    "t35_unigram_vocab" -> Seq(
      "n_pieces" -> (48L, 48L, 48L),
      "total_count" -> (65355L, 62653L, 629867L),
      "vocab_fp" -> (690015130L, 93162695L, 912691525L)),
    // Measured 2026-08-14 (round 8, PinDump). Pure function of the
    // corpus + the deterministic t35 vocabulary + the deterministic
    // packer; total_pieces must equal t36's by conservation.
    "p03_tokenize_pack" -> Seq(
      "n_chunks" -> (256L, 245L, 2461L),
      "doc_slots" -> (754L, 744L, 7439L),
      "total_pieces" -> (65355L, 62653L, 629867L),
      "manifest_fp" -> (129277745298L, 118061890655L, 1241173134709L)),
    // Measured 2026-08-14 (round 8, PinDump). Pure function of the
    // corpus + the deterministic t35 vocabulary (TrainPrepSpec:
    // per-document equality with an independent in-memory Viterbi).
    "t36_unigram_encode" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "total_pieces" -> (65355L, 62653L, 629867L),
      "n_vocab" -> (43L, 43L, 43L)),
    // = t36 by construction: the stream runs the identical stateless
    // per-document encode through foreachBatch, so batch slicing
    // cannot move the drained summary (OpsSpec asserts row equality).
    "st21_tokenizer_serve" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "total_pieces" -> (65355L, 62653L, 629867L),
      "n_vocab" -> (43L, 43L, 43L)),
    // Measured 2026-08-13 (round 7, PinDump). Pure function of the
    // corpus + the deterministic t26 rules; the 20 merges compress
    // ~2.6x vs raw characters and grow the piece vocabulary from the
    // base charset to ~35 symbols.
    "t28_bpe_encode" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "total_pieces" -> (90749L, 88559L, 883773L),
      "n_vocab" -> (34L, 37L, 36L)),
    // Measured 2026-08-14 (round 8, PinDump). The IRLS trajectory is a
    // pure fixed-point function of the corpus (ClassifierSpec checks
    // it against an independent in-memory IRLS), so the summary —
    // including w_hash, the rolling hash of the learned weight
    // vector — is exactly reproducible per SF. n_agree = 90-92%
    // accuracy vs the 70-78% majority rate: the classifier actually
    // learns the langid label from 64 hashed buckets.
    "t31_quality_classifier" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "n_pred_pos" -> (137L, 84L, 1078L),
      "n_agree" -> (457L, 462L, 4500L),
      "score_mass" -> (155185353L, 117433405L, 1381981645L),
      "w_hash" -> (-9198481473342153249L, -6085398195593787346L, 6134609951421128964L)),
    // Measured 2026-08-14 (round 8, PinDump). Deterministic fact of
    // the (hash-seeded, partition-invariant) n01 graph + the label
    // column: consistency ~1/10 = the fixture's labels carry no
    // geometric signal (chance for 10 balanced classes) — the audit
    // working as designed; OpsSpec shows ~1.0 on a cluster-labeled
    // corpus.
    "n04_label_audit" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "n_consistent" -> (40L, 60L, 192L)),
    // Measured 2026-08-14 (round 8, PinDump). Deterministic fact of
    // the (hash-seeded, partition-invariant) n01 graph + the 10% seed
    // split: the graph is connected at k=10 so everything labels, and
    // propagated accuracy sits at ~chance for 10 balanced
    // geometry-free classes — the honest fixture reading (OpsSpec
    // shows ~1.0 on a cluster-labeled corpus).
    "n05_label_propagation" -> Seq(
      "n_labeled" -> (500L, 500L, 2000L),
      "n_seeds" -> (50L, 50L, 200L),
      "n_propagated" -> (450L, 450L, 1800L),
      "n_propagated_correct" -> (44L, 51L, 168L)),
    // Measured 2026-08-14 (round 8, PinDump). Prices beam-search
    // recall PLUS the documented staleness (missing new<->new links)
    // against the full-corpus truth; n02's refined path is the
    // recall ceiling, this is the cheap-append floor.
    "n06_graph_append" -> Seq(
      "n_hits_new" -> (817L, 778L, 3014L),
      "n_total_new" -> (1000L, 1000L, 4000L)),
    // = n06 by construction: beam search is per-query independent, so
    // micro-batch slicing cannot move the appended lists (OpsSpec
    // asserts new-list row equality with the batch append).
    "st22_graph_append_serve" -> Seq(
      "n_hits_new" -> (817L, 778L, 3014L),
      "n_total_new" -> (1000L, 1000L, 4000L)),
    // Measured 2026-08-14 (round 9, PinDump, first measurement).
    // Deterministic whole-assignment fingerprint of the histogram
    // bin-packing solve at capacity 128 (pure function of the
    // (length, id) multiset — partition-invariant, TrainPrepSpec).
    "t40_pack_bins" -> Seq(
      "n_bins" -> (220L, 214L, 2121L),
      "n_docs_packed" -> (500L, 500L, 5000L),
      "n_oversize" -> (0L, 0L, 0L),
      "packed_tokens" -> (27939L, 27165L, 270704L),
      "assign_hash" -> (240683156977L, 241384893016L, 2492728507766L),
      "fill_fp" -> (1040347L, 1039886L, 1045548L)),
    // Measured 2026-08-14 (round 9, PinDump, first measurement).
    // α = 1.0 strict-RNG occlusion prune of the n01 graph: edge census
    // before vs after, plus search recall over the PRUNED graph at
    // s03's exact serving parameters (s03's n_hits over the unpruned
    // graph is the direct comparison point).
    "n08_graph_prune" -> Seq(
      "n_hits" -> (198L, 199L, 192L),
      "n_total" -> (200L, 200L, 200L),
      "n_edges_before" -> (5000L, 5000L, 20000L),
      "n_edges_after" -> (4088L, 4060L, 17581L)),
    // Measured 2026-08-14 (round 10, PinDump, first measurement).
    // Serving from the PERSISTED pruned artifact: recall and censuses
    // must equal n08's (doubles/ids round-trip parquet exactly;
    // OpsSpec asserts the artifact row-identical to a fresh prune).
    "n09_pruned_serve" -> Seq(
      "n_hits" -> (198L, 199L, 192L),
      "n_total" -> (200L, 200L, 200L),
      "n_nodes" -> (500L, 500L, 2000L),
      "n_edges" -> (4088L, 4060L, 17581L)),
    // Measured 2026-08-14 (round 10, PinDump, first measurement).
    // n_cross = 0 IS the partition-isolation contract (a structural
    // zero, not a measured accident — the score gate makes a
    // cross-partition candidate impossible); recall is vs the
    // partition-restricted brute truth.
    "n10_partitioned_search" -> Seq(
      "n_hits" -> (200L, 200L, 199L),
      "n_total" -> (200L, 200L, 200L),
      "n_results" -> (200L, 200L, 200L),
      "n_cross" -> (0L, 0L, 0L)),
    // Measured 2026-08-14 (round 10, PinDump, first measurement).
    // Conservation vs t40 is column-for-column: n_bins /
    // n_docs_packed / packed_tokens equal t40's pins; max_fill <= 128
    // by construction; pad_tokens = n_bins*128 - packed_tokens.
    "t41_bin_manifest" -> Seq(
      "n_bins" -> (220L, 214L, 2121L),
      "n_docs_packed" -> (500L, 500L, 5000L),
      "packed_tokens" -> (27939L, 27165L, 270704L),
      "max_fill" -> (128L, 128L, 128L),
      "pad_tokens" -> (221L, 227L, 784L),
      "manifest_fp" -> (115587143505L, 102009911245L, 1063162083134L)),
    // Measured 2026-08-14 (round 8, PinDump). Deterministic fact of
    // the (hash-seeded, partition-invariant) n01 graph; reciprocity_fp
    // = round(frac * 2^20).
    "n07_graph_health" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "n_edges" -> (5000L, 5000L, 20000L),
      "min_deg" -> (10L, 10L, 10L),
      "max_deg" -> (10L, 10L, 10L),
      "n_reciprocal" -> (4154L, 4048L, 16466L),
      "reciprocity_fp" -> (871157L, 848927L, 863293L)),
    // Measured 2026-08-14 (round 8, PinDump). Bohning-Lindsay OvR
    // trajectory is a pure fixed-point function of the corpus
    // (ClassifierSpec: independent in-memory replication, exact
    // partition invariance); n_agree = ~87% five-way agreement with
    // the t03 rule vs a ~30% majority class.
    "t32_multiclass_langid" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "n_agree" -> (434L, 438L, 4231L),
      "pred_hash" -> (644398927L, 591026797L, 1918332517L),
      "w_hash" -> (412258164952615414L, 7008151292912725164L, -1770270720134746837L)),
    // = t31 by construction: the stream applies the batch-trained
    // model through the same fixed-point projection (OpsSpec asserts
    // row equality), so any divergence between these pin rows is a
    // bug, not drift.
    "st20_classifier_serve" -> Seq(
      "n_docs" -> (500L, 500L, 5000L),
      "n_pred_pos" -> (137L, 84L, 1078L),
      "n_agree" -> (457L, 462L, 4500L),
      "score_mass" -> (155185353L, 117433405L, 1381981645L),
      "w_hash" -> (-9198481473342153249L, -6085398195593787346L, 6134609951421128964L)),
    // Same sketch over the same rows as t14 (merge is order-independent,
    // so micro-batch slicing cannot move the estimate).
    "st07_stream_vocab" -> Seq(
      "n_approx" -> (31L, 31L, 31L)),
    // Measured 2026-08-13 (round 6, PinDump): the streamed moment
    // sketch merges bit-identically to the batch sketch (PcaSpec), so
    // these are the batch covariance's top eigenvalues at 2^-20
    // granularity.
    "st09_stream_pca" -> Seq(
      "n_rows" -> (500L, 500L, 2000L),
      "ev1_fp" -> (30289L, 28849L, 21947L),
      "ev2_fp" -> (28234L, 28486L, 21571L),
      "ev3_fp" -> (27083L, 27911L, 21371L),
      "ev4_fp" -> (26492L, 26832L, 20949L)),
    // Measured 2026-08-13 (round 6, PinDump): k-means blocking keeps
    // 96–98% of the true cosine>=0.9 pairs at k=8 — near-identical
    // vectors land in the same Voronoi cell unless they straddle a
    // boundary.
    "d11_semantic_pairs" -> Seq(
      "n_truth" -> (500L, 500L, 2000L), "n_found" -> (492L, 486L, 1922L)),
    // Measured 2026-08-15 (round 14, PinDump, first measurement).
    // Semantic decontamination: truth = the planted perturbed copies
    // of the id%20==0 benchmark originals (25/25/100 — exactly
    // |bench| at every SF: nothing else reaches cosine 0.9, the
    // augEmb margin); the bench-fitted 8-cell/2-probe blocking
    // recovers all of them (the paraphrase sits cosine ~0.993 from
    // its original, so its nearest cell is inside the original's
    // 2-probe set on this fixture).
    "d23_semantic_decontaminate" -> Seq(
      "n_corpus" -> (975L, 975L, 3900L), "n_truth" -> (25L, 25L, 100L),
      "n_found" -> (25L, 25L, 100L)),
    // st25 = d23's blocked scrub drained from the embedding stream;
    // per-doc independence makes drained == batch (OpsSpec row
    // equality), so the pins are d23's verbatim (measured 2026-08-15,
    // round 14, PinDump).
    "st25_semantic_decon_serve" -> Seq(
      "n_corpus" -> (975L, 975L, 3900L), "n_truth" -> (25L, 25L, 100L),
      "n_found" -> (25L, 25L, 100L)),
    // Measured 2026-08-15 (round 12, PinDump, first measurement).
    // IVF-fronted hard negatives vs the exact fused form: recall
    // 0.84-0.87 — squarely the IVF front's own regime (s04's 32/16
    // geometry floors at ~0.85), confirming the shortfall is the
    // front's, not the recipe's (proven exact at full depth in
    // OpsSpec).
    "s20_hard_negatives_ivf" -> Seq(
      "n_hits" -> (87L, 86L, 84L), "n_total" -> (100L, 100L, 100L)),
    // Measured 2026-08-15 (round 13, PinDump, first measurement).
    // The same recipe through the graph front: clears the family's
    // 0.9 bar at every SF (the front is s03's 0.96-recall serve; the
    // s20 shortfall was the IVF front's, as its pin comment reads).
    "s20b_hard_negatives_graph" -> Seq(
      "n_hits" -> (99L, 99L, 97L), "n_total" -> (100L, 100L, 100L)),
    // Measured 2026-08-15 (round 13, PinDump, first measurement).
    // DoReMi iterated mixture over the 20 sources: w_sum_fp pins the
    // exact-2^20 mass invariant; min < max pins that the loop moved
    // mass (excess spread ~0.004-0.03 nats on this fixture); the
    // hash pins every (domain, weight) pair order-independently.
    // Measured 2026-08-15 (round 13, PinDump, first measurement).
    // t47's plan executed: every domain's epochs is ~1 (weights near
    // uniform against a near-uniform corpus), so the copy census sits
    // near |docs| with the md5-Bernoulli fringe deciding the rest.
    "p08_doremi_execute" -> Seq(
      "n_copies" -> (509L, 503L, 5011L),
      "n_docs" -> (484L, 484L, 4940L),
      "copies_fp" -> (258559120890L, 255368689553L, 2474698545710L)),
    // Measured 2026-08-15 (round 13, PinDump, first measurement).
    // The even/odd snapshots are two uniform halves of one corpus, so
    // every cell is shared and the drift mass is the sampling noise
    // floor for this fixture — the reading a healthy ingest shows;
    // OpsSpec plants a real shift and a zero case.
    // OpsSpec holds op == independent peel and core nesting; the
    // mutual-graph construction note lives on the declared query.
    "n15_kcore" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "n_in_core" -> (442L, 417L, 1694L),
      "n_rounds" -> (4L, 8L, 10L)),
    "s21_embedding_drift" -> Seq(
      "n_cells" -> (8L, 8L, 8L),
      "n_a_total" -> (250L, 250L, 1000L),
      "n_b_total" -> (250L, 250L, 1000L),
      "n_cells_shared" -> (8L, 8L, 8L),
      "drift_total" -> (12543338703L, 13549176399L, 99458173508L),
      "drift_max" -> (2158768900L, 2273944453L, 13693688066L)),
    "t47_doremi_mixture" -> Seq(
      "n_domains" -> (20L, 20L, 20L),
      "w_sum_fp" -> (1048576L, 1048576L, 1048576L),
      "w_min_fp" -> (48803L, 50186L, 52138L),
      "w_max_fp" -> (55786L, 55988L, 52751L),
      "w_hash" -> (12284855744L, 9734081991L, 9459218588L),
      "budget_total" -> (27937L, 27163L, 270703L)),
    // Measured 2026-08-15 (round 12, PinDump, first measurement).
    // SemDeDup's drop list over the same fixture (d11's pairs closed
    // into min-id components): n_dropped EQUALS d11's n_found at every
    // SF — each found pair is (original, planted copy at id+10^6), the
    // copy always loses the min-id closure, and no component chains on
    // this fixture. n_survivors = n_docs − n_dropped accordingly.
    "d21_semantic_survivors" -> Seq(
      "n_docs" -> (1000L, 1000L, 4000L),
      "n_survivors" -> (508L, 514L, 2078L),
      "n_dropped" -> (492L, 486L, 1922L),
      "dropped_ids_fp" -> (492122614L, 486120858L, 1923919954L)),
    // Measured 2026-08-13 (round 6, PinDump). The isotropic fixture is
    // RP's worst case — true neighbors sit within one ~1/sqrt(32)
    // distortion sigma of background, and the gap narrows with N (the
    // sf0.1 dip is geometry, not a defect); clustered corpora keep
    // neighbors in-cluster at half width (OpsSpec planted exhibit).
    "s10_ann_rp" -> Seq(
      "n_hits" -> (172L, 175L, 129L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump). The fitted basis beats
    // s10's JL pins (172/175/129) decisively even here: the synthetic
    // fixture is only near-isotropic, and the mild anisotropy the
    // covariance finds is exactly the signal a data-dependent basis
    // keeps while the random map spends distortion uniformly; the
    // planted low-rank corpus in PcaSpec shows the full separation.
    "s12_ann_pca" -> Seq(
      "n_hits" -> (200L, 200L, 186L), "n_total" -> (200L, 200L, 200L)),
    // Measured 2026-08-13 (round 6, PinDump): the composition tracks
    // s04's IVF pins within a few hits — the candidate stream is cut
    // by the same cells, and PQ-ordering losses inside probed cells
    // are mostly recovered by the 16x-refine exact re-rank.
    "s13_ann_ivfpq" -> Seq(
      "n_hits" -> (166L, 167L, 168L), "n_total" -> (200L, 200L, 200L)),
    "d04_simhash_pairs" -> Seq(
      "n_candidates" -> (1484L, 1418L, 138939L),
      "n_true_pairs" -> (28L, 25L, 256L),
      "n_true_found" -> (27L, 23L, 227L)),
    "n01_knn_graph" -> Seq(
      "n_hits" -> (4985L, 4978L, 18790L),
      "n_total" -> (5000L, 5000L, 20000L)),
    // Measured 2026-08-14 (round 9, PinDump) after the sparse-append
    // fix (stable lists of reverse-edge-receiving nodes re-enter their
    // adjacency groups as old[v]): recall rose at every SF — the
    // missing candidates were real (sf0.1 new 3711 -> 3769, old
    // 15576 -> 15647).
    "n02_knn_incremental" -> Seq(
      "n_hits_new" -> (997L, 996L, 3769L),
      "n_total_new" -> (1000L, 1000L, 4000L),
      "n_hits_old" -> (3997L, 3996L, 15647L),
      "n_total_old" -> (4000L, 4000L, 16000L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // In-loop construction prune (strict-RNG α = 1.0, maxDegree 12):
    // search recall at s03's serving parameters over the artifact,
    // edge census (vs n01's k·N = 5000/5000/20000), and the direct
    // list-recall numerator (the priced trade — below n01's n_hits).
    // The sf0.1 row IS the finding: in-loop strict pruning costs
    // 0.78 search recall where POST-HOC pruning of the converged
    // graph (n09) holds 0.96 at the same α — on isotropic data,
    // prune-after-convergence dominates prune-during-construction
    // (α = 1.1/1.2 were measured too: no net occlusion in the final
    // census AND still-reduced recall — strictly worse exhibits).
    "n11_inloop_prune" -> Seq(
      "n_hits" -> (196L, 195L, 156L),
      "n_total" -> (200L, 200L, 200L),
      "n_edges" -> (4906L, 4922L, 19901L),
      "n_list_hits" -> (3386L, 3334L, 9859L),
      "n_list_total" -> (5000L, 5000L, 20000L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // Fixed-point PageRank over the n01 serving graph: the summary is
    // bit-deterministic (integer arithmetic throughout), so the pins
    // are exact facts of the graph artifact, not tolerances. total_mass
    // sits just under N·2^20 (floor drift, priced in the scaladoc).
    // l1_residual (round 12, PinDump-measured): the exact L1 delta
    // between iterations 9 and 10 — ~72-81 rank units per node of
    // remaining motion against a per-node mass of 2^20 (relative
    // ~7e-5, i.e. converged to ~4 decimal digits); the residual/(1-d)
    // stationarity bound puts the whole vector within ~5e-4 relative
    // L1 of the fixed point. Pinned evidence that 10 iterations
    // suffice, not convention. (n13's residual is ~3x larger: the
    // seeded teleport concentrates mass, so per-node ranks are
    // larger where they move.)
    "n12_pagerank" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "total_mass" -> (524275257L, 524275442L, 2097101187L),
      "top_id" -> (172L, 384L, 1600L),
      "top_rank" -> (1964944L, 2088446L, 2092420L),
      "l1_residual" -> (40290L, 35731L, 143633L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // Personalized PageRank with seeds = ids 0..15: every column an
    // exact fact (same fixed-point arithmetic as n12). seed_mass IS
    // the locality finding: 16 nodes (3.2% / 0.8% of the corpus)
    // holding this share of total mass where uniform PageRank gives
    // every node ~2^20; the argmax is always a seed.
    "n13_ppr" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "total_mass" -> (524276463L, 524276364L, 2097105379L),
      "seed_mass" -> (96359437L, 97251438L, 346501826L),
      "top_id" -> (10L, 7L, 5L),
      "top_rank" -> (6570467L, 7103627L, 23152951L),
      "l1_residual" -> (139748L, 144137L, 953995L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // Gonzalez k-center at t = 8 over the embeddings: deterministic by
    // total order (no hash, no accumulated float), so every column is
    // exact. max_sel_fp (round 1's pick — the farthest point from the
    // min-id seed) upper-bounds radius_fp strictly: the covering
    // radius tightened as centers were added (the Gonzalez invariant;
    // OpsSpec pins monotonicity round by round).
    "s18_kcenter" -> Seq(
      "n_centers" -> (8L, 8L, 8L),
      "centers_fp" -> (8605L, 5114L, 34523L),
      "max_sel_fp" -> (1735511L, 1714732L, 1746347L),
      "radius_fp" -> (1458946L, 1462746L, 1467130L),
      "max_load" -> (74L, 75L, 267L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // Weighted PageRank over the n01 graph: exact facts like n12. On
    // this fixture the argmax HOLDS n12's (172/384/1600 — the
    // near-uniform similarities of isotropic data barely tilt the
    // flow) while every rank value moves (top_rank differs from
    // n12's 1964944/2088446/2092420) — the honest reading, pinned as
    // such; equal weights reduce to n12 bit-for-bit (OpsSpec carries
    // the witness plus a skewed-weight fixture where the argmax DOES
    // move).
    "n14_weighted_pagerank" -> Seq(
      "n_nodes" -> (500L, 500L, 2000L),
      "total_mass" -> (524274313L, 524274260L, 2097097064L),
      "top_id" -> (172L, 384L, 1600L),
      "top_rank" -> (1970450L, 2103669L, 2080770L),
      "l1_residual" -> (40565L, 36391L, 145443L)),
    // Centrality-ranked budget selection: every column an exact fact
    // (fixed-point ranks, integer token counts, total order). The
    // budget conservation reads directly: picked_tokens <= 10000 with
    // the cut landing as close as whole documents allow;
    // rank_threshold is the representativeness bar the budget bought.
    "p06_central_select" -> Seq(
      "n_docs" -> (500L, 500L, 2000L),
      "n_kept" -> (179L, 184L, 179L),
      "picked_tokens" -> (9974L, 9962L, 9931L),
      "picked_rank_mass" -> (246104970L, 257828938L, 290198365L),
      "rank_threshold" -> (1168106L, 1129643L, 1466024L),
      "ids_fp" -> (45936L, 47915L, 173829L)),
    // Measured 2026-08-15 (round 11, PinDump, first measurement).
    // Coreset-balanced subsample: deterministic end to end (greedy
    // centers + literal-folded assignment + md5-draw strata picks) —
    // the whole selection pins exactly. min_fill = max_fill = 25 at
    // every SF: the cap binds in ALL eight covering regions (the
    // sparsest holds >= 25 members even at sf0.001), so n_picked is
    // exactly 8 x 25 where uniform sampling at the same rate would
    // draw 74-267 per region (s18's load pins) — the balance
    // evidence.
    "p05_coreset_balance" -> Seq(
      "n_picked" -> (200L, 200L, 200L),
      "ids_fp" -> (50449L, 50252L, 192553L),
      "n_strata" -> (8L, 8L, 8L),
      "min_fill" -> (25L, 25L, 25L),
      "max_fill" -> (25L, 25L, 25L)))

  private val shingleCte =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id AS id, s FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
      |      ELSE [text] END) AS s
      |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
      |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
      |inter AS (
      |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, x.n + y.n - inter AS union_sz,
      |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
      |FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
      |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7""".stripMargin

  /** Shared by t30 (batch) and st17 (streaming twin over the same
    * drained counts — bit-identical by construction). */
  /** Cross-corpus (even-id static vs odd-id incoming) exact-Jaccard
    * near-dup pairs at 0.7 — the oracle of batch d07 AND its streaming
    * foreachBatch twin st19, which drains to the identical result. */
  private val incrementalDedupSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id AS id, s FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
      |      ELSE [text] END) AS s
      |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
      |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
      |inter AS (
      |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.id % 2 = 0 AND b.id % 2 = 1
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, x.n + y.n - inter AS union_sz,
      |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
      |FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
      |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7""".stripMargin

  private val corpusDriftSql: String =
    """WITH ca AS (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT unnest(str_split(text, ' ')) AS term FROM documents
      |    WHERE doc_id % 2 = 0) GROUP BY term),
      |cb AS (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT unnest(str_split(text, ' ')) AS term FROM documents
      |    WHERE doc_id % 2 <> 0) GROUP BY term),
      |j AS (
      |  SELECT COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
      |  FROM ca FULL OUTER JOIN cb USING (term)),
      |tot AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
      |    count(*) AS v
      |  FROM j)
      |SELECT count(*) AS n_terms,
      |  CAST(sum(CAST(round(
      |    ((ca + 1) / CAST(na + v AS DOUBLE) - (cb + 1) / CAST(nb + v AS DOUBLE))
      |    * ln(((ca + 1) / CAST(na + v AS DOUBLE)) / ((cb + 1) / CAST(nb + v AS DOUBLE)))
      |    * 1048576) AS BIGINT)) AS BIGINT) AS jdiv_fp
      |FROM j, tot""".stripMargin

  /** m08's DuckDB twin — shared verbatim by the streaming WARC
    * ingest (st28): per-file independence makes the drained record
    * census equal the batch round trip, so the two oracles must
    * never desync. */
  val WarcCensusOracle: String =
    s"""WITH ${urlSynthCte("documents")},
      |${htmlSynthCtes("documents")},
      |rec AS (SELECT u.doc_id, u.url, h.html
      |  FROM urls u JOIN h USING (doc_id))
      |SELECT
      |  CAST(count(*) AS BIGINT) AS n_records,
      |  CAST(count(DISTINCT doc_id // 50) AS BIGINT) AS n_files,
      |  CAST(sum(strlen(html)) AS BIGINT) AS payload_bytes,
      |  CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
      |  CAST(sum(CAST(('0x' || substr(md5(html), 1, 8)) AS BIGINT))
      |    AS BIGINT) AS payload_fp,
      |  CAST(sum(CAST(('0x' || substr(md5(url), 1, 8)) AS BIGINT))
      |    AS BIGINT) AS url_fp,
      |  CAST(sum(doc_id) AS BIGINT) AS ids_fp
      |FROM rec""".stripMargin

  val pipelineOracles: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // Same trigram construction as the dedup oracles; benchmark set =
    // doc_id % 20 == 0. count(b.s) counts matched (distinct) grams.
    "d09_decontaminate" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |bench AS (SELECT DISTINCT s FROM grams WHERE id % 20 = 0),
        |corpus AS (SELECT id, s FROM grams WHERE id % 20 <> 0)
        |SELECT c.id AS doc_id, count(*) AS n_grams,
        |  CAST(count(b.s) AS BIGINT) AS n_contaminated,
        |  CAST(count(b.s) AS DOUBLE) / count(*) AS contaminated_frac
        |FROM corpus c LEFT JOIN bench b USING (s)
        |GROUP BY c.id""".stripMargin,

    // The streaming twin emits the same rows as d09 (stateless in-row
    // projection over the same gram construction), so it shares d09's
    // oracle verbatim.
    "st08_stream_decon" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |bench AS (SELECT DISTINCT s FROM grams WHERE id % 20 = 0),
        |corpus AS (SELECT id, s FROM grams WHERE id % 20 <> 0)
        |SELECT c.id AS doc_id, count(*) AS n_grams,
        |  CAST(count(b.s) AS BIGINT) AS n_contaminated,
        |  CAST(count(b.s) AS DOUBLE) / count(*) AS contaminated_frac
        |FROM corpus c LEFT JOIN bench b USING (s)
        |GROUP BY c.id""".stripMargin,

    // Exclusive running sum in doc_id order, then 256-token chunk
    // spans — single-op integer arithmetic, bit-exact across engines.
    "t11_pack_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |placed AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_off,
        |  start_off // 256 AS chunk_first,
        |  (start_off + greatest(n_tokens, 1) - 1) // 256 AS chunk_last,
        |  (start_off + greatest(n_tokens, 1) - 1) // 256
        |    - start_off // 256 + 1 AS n_chunks
        |FROM placed""".stripMargin,

    // The md5 hex draw is engine-portable (same construction as the
    // q30–q32 sampling oracles); rank is 0-based to match zipWithIndex.
    "t16_train_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |    doc_id) - 1 AS BIGINT) AS rank
        |FROM documents""".stripMargin,

    // t11's placement CTE, exploded over each doc's inclusive chunk
    // range and re-grouped by chunk — integer arithmetic end-to-end
    // (token mass = clipped [start, start+n) ∩ [cB, (c+1)B) overlap
    // from TRUE counts, so empty docs add 0).
    "t15_chunk_manifest" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |placed AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM toks),
        |spans AS (
        |  SELECT doc_id, n_tokens, start_off,
        |    unnest(generate_series(start_off // 256,
        |      (start_off + greatest(n_tokens, 1) - 1) // 256)) AS chunk_id
        |  FROM placed)
        |SELECT chunk_id, count(*) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(SUM(greatest(0, least(start_off + n_tokens, (chunk_id + 1) * 256)
        |    - greatest(start_off, chunk_id * 256))) AS BIGINT) AS n_tokens
        |FROM spans GROUP BY chunk_id""".stripMargin,

    // Integer-arithmetic threshold (count·100 >= total·1) — bit-exact
    // across engines; the sketch+recount construction is exact.
    "t12_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT term, count(*) AS n
        |FROM toks GROUP BY term
        |HAVING count(*) * 100 >= (SELECT n FROM tot) * 1""".stripMargin,

    // d02 runs with maxDocFraction = 0.1: the oracle drops shingles
    // with df > min(floor(0.1·N), 10000) before sizes/intersections,
    // mirroring capDocFreq (cap = max(1, min((N·0.1).toLong, 10000));
    // floor == toLong for positives). The absolute 10000 term makes the
    // worst-key fan-out corpus-size-independent (see capDocFreq's doc).
    "d02_jaccard_pairs" ->
      """WITH sh0 AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |cap AS (SELECT greatest(1, least(CAST(floor(count(*) * 0.1) AS BIGINT), 10000)) AS c FROM documents),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= (SELECT c FROM cap)),
        |sh AS (SELECT sh0.id, sh0.s FROM sh0 JOIN rare USING (s)),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, x.n + y.n - inter AS union_sz,
        |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
        |FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7""".stripMargin,
    "d03_minhash_pairs" -> shingleCte,
    "d08_jaccard_prefix" -> shingleCte,

    // d03's exact-join pairs extended with the character-level verify:
    // both engines' levenshtein is unit-cost Wagner-Fischer, so the
    // distance (and everything derived from it) is bit-exact.
    "d17_edit_verify" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
        |  FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7)
        |SELECT p.doc_a, p.doc_b, p.jaccard,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        |  CAST(greatest(len(a.text), len(b.text)) AS BIGINT) AS max_len,
        |  1 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |    / greatest(len(a.text), len(b.text), 1) AS edit_sim,
        |  CAST(CASE WHEN levenshtein(a.text, b.text) <= 5 THEN 1 ELSE 0 END
        |    AS BIGINT) AS edit_dup
        |FROM pairs p
        |JOIN documents a ON a.doc_id = p.doc_a
        |JOIN documents b ON b.doc_id = p.doc_b""".stripMargin,

    // (Pinned-literal oracles for the hash-dependent approximate ops
    // — s02–s05, s07, d04, n01, n02 — are spliced in from [[pinnedValues]]
    // after this literal; see that table's doc for the scheme.)

    // Same augmented corpus as the Spark side (perturbed copies at
    // id+10⁶); the oracle is the exact all-pairs scan at 0.9 — planted
    // cosines 0.9927+ and background ≤ 0.633 give ≥ 0.09 margin, so
    // float rounding can never flip a selection.
    "d05_embedding_pairs" ->
      """WITH aug AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS id,
        |    list_transform(range(1, len(embedding)+1),
        |      i -> embedding[i] + 0.12::FLOAT * embedding[(i % len(embedding)) + 1]) AS v
        |  FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM aug a JOIN aug b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,

    "d06_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id)
        |SELECT id AS doc_id, min(r) AS component,
        |  CAST(id = min(r) AS INT) AS keep
        |FROM reach GROUP BY id""".stripMargin,

    // d06's component CTE, then SoftDedup weights: cluster size by a
    // window over the assignment and the exact integer division
    // 2^20 // size — both engines do pure BIGINT arithmetic, so the
    // twin is bit-exact.
    "t52_soft_dedup" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT id AS doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size,
        |  CAST(1048576 AS BIGINT)
        |    // count(*) OVER (PARTITION BY component) AS weight_fp
        |FROM comp""".stripMargin,

    // d06's component CTE + t02's quality formula; the survivor is the
    // per-component max by (quality DESC, id ASC) — a total order, so
    // both engines pick the same row.
    "d10_dedup_survivors" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |quality AS (
        |  SELECT doc_id,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS q
        |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)),
        |ranked AS (
        |  SELECT c.component, c.id, q.q,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY q.q DESC, c.id ASC) AS rn,
        |    count(*) OVER (PARTITION BY c.component) AS n_members
        |  FROM comp c JOIN quality q ON q.doc_id = c.id)
        |SELECT component, id AS survivor_id, q AS survivor_score, n_members
        |FROM ranked WHERE rn = 1""".stripMargin,

    "p01_curation" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
        |kept AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(r)),
        |quality AS (
        |  SELECT doc_id,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS q
        |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))
        |SELECT q.doc_id FROM quality q JOIN kept k ON q.doc_id = k.doc_id
        |WHERE q.q >= 0.6""".stripMargin,

    // The four stage fragments chained verbatim: d09 grams/decon, t02
    // quality + t27 quantile cut (thresholds computed WITHIN the
    // decontaminated survivors), d01 min-id exact dedup, t11 prefix-sum
    // packing of the final survivor set.
    "p02_pretrain_corpus" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |bench AS (SELECT DISTINCT s FROM grams WHERE id % 20 = 0),
        |corpus AS (SELECT id, s FROM grams WHERE id % 20 <> 0),
        |decon AS (
        |  SELECT c.id AS doc_id
        |  FROM corpus c LEFT JOIN bench b USING (s)
        |  GROUP BY c.id HAVING count(b.s) = 0),
        |scored AS (
        |  SELECT q.doc_id, q.source, q.quality
        |  FROM (
        |    SELECT doc_id, source,
        |      (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |        + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |        + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS quality
        |    FROM (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents)) q
        |  JOIN decon USING (doc_id)),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_group
        |  FROM scored),
        |thr AS (
        |  SELECT source,
        |    max(CASE WHEN rn <= greatest(CAST(ceil(0.25 * n_group - 1e-9) AS BIGINT), 1)
        |      THEN quality END) AS thr
        |  FROM ranked GROUP BY source),
        |qualified AS (
        |  SELECT s.doc_id FROM scored s JOIN thr t USING (source)
        |  WHERE s.quality >= t.thr),
        |deduped AS (
        |  SELECT min(d.doc_id) AS doc_id
        |  FROM documents d JOIN qualified USING (doc_id)
        |  GROUP BY d.text),
        |toks AS (
        |  SELECT d.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents d JOIN deduped USING (doc_id)),
        |placed AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_off,
        |  start_off // 256 AS chunk_first,
        |  (start_off + greatest(n_tokens, 1) - 1) // 256 AS chunk_last,
        |  (start_off + greatest(n_tokens, 1) - 1) // 256
        |    - start_off // 256 + 1 AS n_chunks
        |FROM placed""".stripMargin,

    "d07_dedup_incremental" -> incrementalDedupSql,
    // st19 drains to the batch d07 result bit-for-bit (per-batch
    // stream-vs-static results union independently), sharing its oracle.
    "st19_neardup_gate" -> incrementalDedupSql,
    // Bit-identical to d07 by construction (the index round-trips the
    // shingle/bucket artifacts through parquet exactly).
    "d15_minhash_index" -> incrementalDedupSql,

    "t08_repetition" ->
      """SELECT doc_id,
        |  CAST(len(bg) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
        |  top_n AS top_bigram_n,
        |  CAST(top_n AS DOUBLE) / len(bg) AS top_bigram_frac,
        |  CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac
        |FROM (
        |  SELECT doc_id, bg,
        |    (SELECT max(c) FROM (SELECT count(*) AS c FROM unnest(bg) AS t(x) GROUP BY x)) AS top_n
        |  FROM (
        |    SELECT doc_id, [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg
        |    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2))""".stripMargin,

    "t09_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "t10_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d()\s.-]{7,}\d', '<PHONE>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    // Same regex literal as TextAnalysis.bpePattern — the pattern uses
    // only constructs Java regex and RE2 parse identically.
    "t13_bpe_tokens" ->
      """SELECT doc_id,
        |  len(tk) AS n_bpe,
        |  len(list_distinct(tk)) AS n_bpe_distinct,
        |  CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
        |    AS BIGINT) AS bpe_chars
        |FROM (SELECT doc_id,
        |  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS tk
        |  FROM documents)""".stripMargin,

    // t13's regex runs per doc, whitespace words, UTF-8 octets
    // (strlen = bytes in DuckDB, octet_length in Spark), then the
    // identical Euclidean split division (num div den)*2^20 +
    // ((num mod den)*2^20) div den on pure BIGINTs — bit-exact; a
    // zero denominator reads NULL via nullif on both sides.
    "t53_fertility" -> FertilityOracle,

    "st27_fertility_serve" -> FertilityOracle,

    // Same Laplace smoothing and 2^-20 pre-sum rounding as
    // TextAnalysis.unigramLogProb; the cross join against the
    // two-scalar totals row mirrors the Spark side's bounded collect.
    "t19_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
        |counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
        |lp AS (
        |  SELECT term,
        |    CAST(round(ln((c + 1) / CAST(n + v AS DOUBLE)) * 1048576) AS BIGINT)
        |      AS lp_fp
        |  FROM counts, tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(lp_fp) AS BIGINT) AS logprob_fp,
        |  CAST(sum(lp_fp) AS DOUBLE) / count(*) AS mean_lp_fp
        |FROM toks JOIN lp USING (term)
        |GROUP BY doc_id""".stripMargin,

    "t56_ccnet_buckets" -> CcnetOracle,

    "st31_ccnet_serve" -> CcnetOracle,

    // w_i = sq_fp_i / Z with sq_fp = round(sqrt(n)*2^20) (correctly
    // rounded sqrt + exact BIGINT partition function); budget/epochs
    // mirror t17's expression shapes exactly.
    "t29_mixture_temperature" ->
      """WITH stats AS (
        |  SELECT lang AS stratum, count(*) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |fp AS (
        |  SELECT stratum, n_docs, n_tokens,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT)
        |      AS sq_fp
        |  FROM stats),
        |tot AS (
        |  SELECT CAST(sum(sq_fp) AS BIGINT) AS z,
        |    CAST(sum(n_tokens) AS BIGINT) AS tt
        |  FROM fp)
        |SELECT stratum, n_docs, n_tokens,
        |  CAST(sq_fp AS DOUBLE) / CAST(z AS DOUBLE) AS target_w,
        |  CAST(round(CAST(sq_fp AS DOUBLE) / CAST(z AS DOUBLE) * tt) AS BIGINT)
        |    AS budget_tokens,
        |  CAST(sq_fp AS DOUBLE) / CAST(z AS DOUBLE) * tt / n_tokens AS epochs
        |FROM fp, tot""".stripMargin,

    // Per-term (pA - pB) * ln(pA / pB) over the union vocabulary,
    // fixed-pointed once per term before the exact BIGINT sum; the
    // even/odd splits mirror the Spark side. The streaming twin
    // produces the identical result (same combine over the drained
    // counts), so it shares this oracle via [[corpusDriftSql]].
    "st17_stream_drift" -> corpusDriftSql,
    "t30_corpus_drift" -> corpusDriftSql,

    // The static side is the even-id distinct text set; the streamed
    // odd-id batch flags by exact membership.
    "st16_ingest_dedup" ->
      """SELECT doc_id,
        |  CAST(text IN (SELECT text FROM documents WHERE doc_id % 2 = 0)
        |    AS BIGINT) AS is_dup
        |FROM documents WHERE doc_id % 2 <> 0""".stripMargin,

    // Same quality expression as t02 bucketed at floor(q*20): the
    // streaming drain must reproduce the batch histogram bit-for-bit.
    "st15_stream_qhist" ->
      """SELECT CAST(floor(q * 20) AS BIGINT) AS bucket, count(*) AS n
        |FROM (
        |  SELECT
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS q
        |  FROM (SELECT str_split(text, ' ') AS w FROM documents))
        |GROUP BY 1""".stripMargin,

    // Same quality expression as t02; the threshold is the
    // k = ceil(q·n)-th smallest element per source (ties by doc_id),
    // extracted as max(value | rn <= k) — an element of the data, so
    // no interpolation float math crosses engines.
    "t27_quantile_filter" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS quality
        |  FROM (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents)),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_group
        |  FROM scored),
        |thr AS (
        |  SELECT source,
        |    max(CASE WHEN rn <= greatest(CAST(ceil(0.25 * n_group - 1e-9) AS BIGINT), 1)
        |      THEN quality END) AS thr
        |  FROM ranked GROUP BY source)
        |SELECT s.doc_id, s.source, s.quality, t.thr,
        |  CAST(s.quality >= t.thr AS BIGINT) AS keep
        |FROM scored s JOIN thr t USING (source)""".stripMargin,

    // t19's pattern lifted to bigrams: per-context add-one model
    // p(w2|w1) = (c+1)/(c(w1,.)+V), each distinct bigram's ln rounded
    // to 2^-20 fixed point once before the exact BIGINT per-doc sum.
    // chr(1) mirrors the Spark side's U+0001 bigram key separator;
    // docs with <2 tokens have no bigrams and drop out of both sides.
    "t25_bigram_logprob" ->
      """WITH tk AS (
        |  SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] || chr(1) || t[i + 1] AS bigram
        |  FROM tk, unnest(range(1, len(t))) AS u(i)),
        |counts AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
        |voc AS (
        |  SELECT count(DISTINCT term) AS v FROM (
        |    SELECT unnest(str_split(text, ' ')) AS term FROM documents)),
        |ctx AS (
        |  SELECT str_split(bigram, chr(1))[1] AS w1, sum(c) AS cw
        |  FROM counts GROUP BY 1),
        |lp AS (
        |  SELECT bigram,
        |    CAST(round(ln((c + 1) / CAST(cw + v AS DOUBLE)) * 1048576)
        |      AS BIGINT) AS lp_fp
        |  FROM counts JOIN ctx ON str_split(bigram, chr(1))[1] = ctx.w1, voc)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(lp_fp) AS BIGINT) AS logprob_fp,
        |  CAST(sum(lp_fp) AS DOUBLE) / count(*) AS mean_lp_fp
        |FROM bg JOIN lp USING (bigram)
        |GROUP BY doc_id""".stripMargin,

    // Same draw (md5 of the id's decimal rendering), same u =
    // (hex8+1)/2^32, same ln/divide/2^-20-round selection key, same
    // (key desc, id asc) total order — bit-exact top-50.
    "t38_weighted_sample" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |k AS (SELECT doc_id, n_tokens,
        |    CAST(round(ln(
        |        (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) + 0.5) / CAST(4294967296 AS DOUBLE))
        |      / CAST(n_tokens AS DOUBLE) * 1048576) AS BIGINT) AS es_fp
        |  FROM d WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, es_fp FROM k
        |ORDER BY es_fp DESC, doc_id ASC LIMIT 50""".stripMargin,

    // quantile_cont is DuckDB's p*(n-1) linear interpolation — the
    // same definition as Spark's percentile()/median(); the fixture's
    // integer-valued doubles make every midpoint exact in binary.
    "q40_percentile_cont" ->
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // The identical LATERAL (DuckDB supports the same syntax); same
    // total tie-break, values untouched.
    "q39_lateral_topn" ->
      """SELECT o_orderkey, l.l_linenumber, l.l_quantity
        |FROM orders, LATERAL (
        |  SELECT l_linenumber, l_quantity FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        |WHERE o_orderkey % 100 = 0""".stripMargin,

    // DuckDB's UNPIVOT emits the same (name, value) long rows; the
    // doubles pass through both engines untouched (no arithmetic).
    "q38_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |        l_extendedprice, l_discount, l_tax
        |      FROM lineitem WHERE l_orderkey % 100 = 0)
        |UNPIVOT (val FOR measure IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin,

    // Same integer counts, same one-division-per-ratio expression
    // shapes, same threshold comparisons on the identical doubles.
    "t37_gopher_rules" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |m AS (SELECT doc_id, len(t) AS n_words,
        |    CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE)
        |      / len(t) AS mean_word_len,
        |    CAST(len(list_filter(t, w -> contains(w, '#')
        |        OR contains(w, '...'))) AS DOUBLE) / len(t) AS symbol_ratio,
        |    CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS DOUBLE) / len(t) AS alpha_frac,
        |    CAST(len(list_filter(
        |      ['the','a','of','and','in'],
        |      s -> list_contains(t, s))) AS BIGINT) AS n_stop
        |  FROM tk)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
        |  symbol_ratio, alpha_frac, n_stop,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3 AND 10
        |    AND symbol_ratio <= 0.1
        |    AND alpha_frac >= 0.8
        |    AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM m""".stripMargin,

    // Both of the paper's semantics recomputed relationally: per-doc
    // n-gram counts (grams keyed by the same chr(1) join), top-1 by
    // (count desc, gram asc) × occurrence char mass for n = 2..4, and
    // a DISTINCT-position coverage join for n = 5..10; every metric an
    // exact BIGINT and the keep decision pure integer arithmetic, so
    // the twin is bit-exact. (CTE chain generated per n — nine copies
    // of two mechanical shapes.)
    "t42_repetition_rules" -> {
      val tops = Seq(2 -> 20, 3 -> 18, 4 -> 16)
      val dups = Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      def grams(n: Int) =
        s"""g$n AS (SELECT doc_id, i AS pos,
           |    array_to_string(list_slice(t, i, i + ${n - 1}), chr(1)) AS gram,
           |    CAST(len(array_to_string(list_slice(t, i, i + ${n - 1}), ''))
           |      AS BIGINT) AS mass
           |  FROM tk, unnest(range(1, len(t) + 2 - $n)) AS u(i)),
           |c$n AS (SELECT doc_id, gram, mass, count(*) AS cnt
           |  FROM g$n GROUP BY 1, 2, 3)""".stripMargin
      def top(n: Int) =
        s"""top$n AS (SELECT doc_id, CAST(cnt * mass AS BIGINT) AS chars
           |  FROM (SELECT doc_id, cnt, mass, row_number() OVER
           |      (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
           |    FROM c$n) WHERE rn = 1)""".stripMargin
      def dup(n: Int) =
        s"""cov$n AS (SELECT DISTINCT g.doc_id, p
           |  FROM g$n g JOIN (SELECT doc_id, gram FROM c$n WHERE cnt >= 2) d
           |    ON g.doc_id = d.doc_id AND g.gram = d.gram,
           |    unnest(range(g.pos, g.pos + $n)) AS v(p)),
           |dm$n AS (SELECT c.doc_id, CAST(sum(len(t[p])) AS BIGINT) AS chars
           |  FROM cov$n c JOIN tk ON c.doc_id = tk.doc_id GROUP BY 1)""".stripMargin
      val ctes = (Seq(
        "tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents)",
        """tot AS (SELECT doc_id,
          |  COALESCE(CAST(list_sum(list_transform(t, w -> len(w)))
          |    AS BIGINT), 0) AS total_chars FROM tk)""".stripMargin) ++
        tops.map(t => grams(t._1)) ++ tops.map(t => top(t._1)) ++
        dups.map(d => grams(d._1)) ++ dups.map(d => dup(d._1)))
        .mkString(",\n")
      val cols =
        tops.map { case (n, _) =>
          s"COALESCE(top$n.chars, 0) AS top${n}_chars" } ++
        dups.map { case (n, _) =>
          s"COALESCE(dm$n.chars, 0) AS dup${n}_chars" }
      val conds =
        tops.map { case (n, thr) =>
          s"COALESCE(top$n.chars, 0) * 100 <= $thr * tot.total_chars" } ++
        dups.map { case (n, thr) =>
          s"COALESCE(dm$n.chars, 0) * 100 <= $thr * tot.total_chars" }
      val joins =
        tops.map { case (n, _) => s"LEFT JOIN top$n USING (doc_id)" } ++
        dups.map { case (n, _) => s"LEFT JOIN dm$n USING (doc_id)" }
      s"""WITH
         |$ctes
         |SELECT tot.doc_id, tot.total_chars,
         |  ${cols.mkString(",\n  ")},
         |  CAST(CASE WHEN ${conds.mkString("\n    AND ")}
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM tot
         |${joins.mkString("\n")}""".stripMargin
    },

    // The identical deterministic reflow (2-token lines via the same
    // ceil/slice arithmetic, 4-line paragraphs joined by chr(10)),
    // then the FULL text reassembled (paragraphs joined by a blank
    // line) and re-split exactly like the kernel: the line census runs
    // over str_split(text, chr(10)) of the reassembled document, so
    // the zero-mass EMPTY line each "\n\n" paragraph separator
    // contributes is counted on both sides (the kernel's documented
    // empty-element semantics). Both censuses relational: per-(doc,
    // element) occurrence counts, duplicates-after-first = sum(cnt−1),
    // duplicate char mass = sum((cnt − 1) · len) — len of a paragraph
    // includes its interior newlines, exactly the kernel's element
    // length — and the four integer threshold rules. BOTH censuses run
    // over the RE-SPLIT reassembled text (lines on chr(10), paragraphs
    // on chr(10)||chr(10)), never the pre-assembly arrays: the kernel
    // re-splits, and the two diverge whenever a reflowed 2-token line
    // is empty (consecutive spaces embed a blank line — i.e. "\n\n" —
    // inside a paragraph, so re-splitting yields more, shorter
    // paragraphs than were assembled).
    "t43_gopher_lines" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |ln AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(t) / 2.0) AS INT)),
        |      i -> array_to_string(list_slice(t, i*2 + 1, i*2 + 2), ' '))
        |      AS lines FROM tk),
        |pr AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(lines) / 4.0) AS INT)),
        |      j -> array_to_string(list_slice(lines, j*4 + 1, j*4 + 4),
        |        chr(10))) AS paras FROM ln),
        |rt AS (SELECT doc_id,
        |    str_split(array_to_string(paras, chr(10) || chr(10)), chr(10))
        |      AS lines FROM pr),
        |lc AS (SELECT doc_id, el, count(*) AS c, len(el) AS el_len
        |  FROM (SELECT doc_id, u.l AS el FROM rt, unnest(lines) AS u(l))
        |  GROUP BY 1, 2, len(el)),
        |lagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(c - 1) AS BIGINT) AS dup_lines,
        |    CAST(sum((c - 1) * el_len) AS BIGINT) AS dup_line_chars,
        |    CAST(sum(c * el_len) AS BIGINT) AS total_chars
        |  FROM lc GROUP BY 1),
        |rp AS (SELECT doc_id,
        |    str_split(array_to_string(paras, chr(10) || chr(10)),
        |      chr(10) || chr(10)) AS paras FROM pr),
        |pc AS (SELECT doc_id, el, count(*) AS c, len(el) AS el_len
        |  FROM (SELECT doc_id, u.p AS el FROM rp, unnest(paras) AS u(p))
        |  GROUP BY 1, 2, len(el)),
        |pagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_paras,
        |    CAST(sum(c - 1) AS BIGINT) AS dup_paras,
        |    CAST(sum((c - 1) * el_len) AS BIGINT) AS dup_para_chars
        |  FROM pc GROUP BY 1)
        |SELECT doc_id, n_lines, n_paras, dup_lines, dup_paras,
        |  dup_line_chars, dup_para_chars, total_chars,
        |  CAST(CASE WHEN dup_lines * 100 <= 30 * n_lines
        |    AND dup_paras * 100 <= 30 * n_paras
        |    AND dup_line_chars * 100 <= 20 * total_chars
        |    AND dup_para_chars * 100 <= 20 * total_chars
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM lagg JOIN pagg USING (doc_id)""".stripMargin,

    // The identical literal blocklist and per-doc list arithmetic
    // (list_filter/list_contains mirror the Spark filter HOF exactly;
    // all counts BIGINT).
    "t33_blocklist" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |h AS (SELECT doc_id, len(t) AS n_tokens,
        |    list_filter(t, x -> list_contains(['scan','spark','vector'], x))
        |      AS hits
        |  FROM tk)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len(hits) AS BIGINT) AS n_hits,
        |  CAST(len(list_distinct(hits)) AS BIGINT) AS n_distinct_hits,
        |  CAST(CASE WHEN len(hits) = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS kept
        |FROM h""".stripMargin,

    // Stupid backoff with the same branch order, floor (minCount=2),
    // alpha literal CAST to DOUBLE, expression associativity, and
    // per-distinct-trigram 2^-20 rounding before the BIGINT sum.
    "t34_backoff_trigram" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    t[i] || chr(1) || t[i + 1] || chr(1) || t[i + 2] AS tri
        |  FROM tk, unnest(range(1, len(t) - 1)) AS u(i)),
        |tri_c AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY 1),
        |bi AS (
        |  SELECT t[i] || chr(1) || t[i + 1] AS bg
        |  FROM tk, unnest(range(1, len(t))) AS u(i)),
        |bi_c AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY 1),
        |uni_c AS (SELECT term AS w, count(*) AS c1 FROM (
        |    SELECT unnest(str_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni_c),
        |keys AS (SELECT tri, c3, str_split(tri, chr(1)) AS p FROM tri_c),
        |lp AS (
        |  SELECT tri,
        |    CAST(round(ln(
        |      CASE WHEN k.c3 >= 2 THEN k.c3 / CAST(b12.c2 AS DOUBLE)
        |        WHEN b23.c2 >= 2
        |          THEN CAST(0.4 AS DOUBLE) * (b23.c2 / CAST(u2.c1 AS DOUBLE))
        |        ELSE CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE) *
        |          (u3.c1 / tot.n))
        |      END) * 1048576) AS BIGINT) AS lp_fp
        |  FROM keys k
        |  JOIN bi_c b12 ON b12.bg = k.p[1] || chr(1) || k.p[2]
        |  JOIN bi_c b23 ON b23.bg = k.p[2] || chr(1) || k.p[3]
        |  JOIN uni_c u2 ON u2.w = k.p[2]
        |  JOIN uni_c u3 ON u3.w = k.p[3], tot)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  CAST(sum(lp_fp) AS BIGINT) AS logprob_fp,
        |  CAST(sum(lp_fp) AS DOUBLE) / count(*) AS mean_lp_fp
        |FROM tri JOIN lp USING (tri)
        |GROUP BY doc_id""".stripMargin,

    // p02's chained-CTE shape with the Gopher stage inserted; each
    // stage's survivor set feeds the next, and the funnel rows are a
    // UNION ALL of scalar counts over the chain.
    "p04_attrition" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |bench AS (SELECT DISTINCT s FROM grams WHERE id % 20 = 0),
        |corpus AS (SELECT id, s FROM grams WHERE id % 20 <> 0),
        |decon_ok AS (
        |  SELECT c.id AS doc_id
        |  FROM corpus c LEFT JOIN bench b USING (s)
        |  GROUP BY c.id HAVING count(b.s) = 0),
        |gop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, len(t) AS n_words,
        |      CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE)
        |        / len(t) AS mean_word_len,
        |      CAST(len(list_filter(t, w -> contains(w, '#')
        |          OR contains(w, '...'))) AS DOUBLE) / len(t) AS symbol_ratio,
        |      CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
        |        AS DOUBLE) / len(t) AS alpha_frac,
        |      len(list_filter(['the','a','of','and','in'],
        |        x -> list_contains(t, x))) AS n_stop
        |    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3 AND 10
        |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2),
        |gop_ok AS (SELECT doc_id FROM decon_ok JOIN gop USING (doc_id)),
        |scored AS (
        |  SELECT q.doc_id, q.source, q.quality FROM (
        |    SELECT doc_id, source,
        |      (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |        + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |        + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS quality
        |    FROM (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents)) q
        |  JOIN gop_ok USING (doc_id)),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_group
        |  FROM scored),
        |thr AS (
        |  SELECT source,
        |    max(CASE WHEN rn <= greatest(CAST(ceil(0.25 * n_group - 1e-9) AS BIGINT), 1)
        |      THEN quality END) AS thr
        |  FROM ranked GROUP BY source),
        |qual_ok AS (
        |  SELECT s.doc_id FROM scored s JOIN thr t USING (source)
        |  WHERE s.quality >= t.thr),
        |dedup_ok AS (
        |  SELECT min(d.doc_id) AS doc_id
        |  FROM documents d JOIN qual_ok USING (doc_id) GROUP BY d.text),
        |n AS (SELECT
        |  (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0) AS n0,
        |  (SELECT count(*) FROM decon_ok) AS n1,
        |  (SELECT count(*) FROM gop_ok) AS n2,
        |  (SELECT count(*) FROM qual_ok) AS n3,
        |  (SELECT count(*) FROM dedup_ok) AS n4)
        |SELECT '1_decontaminate' AS stage, n0 AS n_in, n1 AS n_out,
        |  n0 - n1 AS n_dropped FROM n
        |UNION ALL SELECT '2_gopher_rules', n1, n2, n1 - n2 FROM n
        |UNION ALL SELECT '3_quality_quantile', n2, n3, n2 - n3 FROM n
        |UNION ALL SELECT '4_exact_dedup', n3, n4, n3 - n4 FROM n""".stripMargin,

    // The standalone stages' CTEs chained in pipeline order: t37's
    // gopher metrics over the bench-excluded corpus, d06's shingle/
    // component dedup over the gopher survivors, p04's gram-overlap
    // decontamination of the dedup survivors against the benchmark
    // split, then t29's fixed-point temperature budget over what's
    // left. Every aggregate an exact BIGINT (coalesced so an empty
    // stage reads 0, matching the Spark side), names positional
    // through the UNION ALL.
    "p13_dolma_card" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 20 <> 0),
        |gop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, len(t) AS n_words,
        |      CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE)
        |        / len(t) AS mean_word_len,
        |      CAST(len(list_filter(t, w -> contains(w, '#')
        |          OR contains(w, '...'))) AS DOUBLE) / len(t) AS symbol_ratio,
        |      CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
        |        AS DOUBLE) / len(t) AS alpha_frac,
        |      len(list_filter(['the','a','of','and','in'],
        |        x -> list_contains(t, x))) AS n_stop
        |    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM corpus))
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3 AND 10
        |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2),
        |kept AS (SELECT c.* FROM corpus c JOIN gop USING (doc_id)),
        |sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM kept)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM kept
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |surv AS (SELECT k.* FROM kept k JOIN comp ON k.doc_id = comp.id
        |  WHERE comp.id = comp.component),
        |bgr AS (SELECT DISTINCT s FROM (
        |    SELECT unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT text, str_split(text, ' ') AS w FROM documents
        |      WHERE doc_id % 20 = 0))),
        |sgr AS (SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM surv))),
        |decon_ok AS (
        |  SELECT c.id AS doc_id FROM sgr c LEFT JOIN bgr b USING (s)
        |  GROUP BY c.id HAVING count(b.s) = 0),
        |fin AS (SELECT s2.* FROM surv s2 JOIN decon_ok USING (doc_id)),
        |stats AS (SELECT lang AS stratum, count(*) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM fin GROUP BY 1),
        |fp AS (SELECT stratum, n_docs, n_tokens,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT)
        |      AS sq_fp
        |  FROM stats),
        |tot AS (SELECT CAST(sum(sq_fp) AS BIGINT) AS z,
        |    CAST(sum(n_tokens) AS BIGINT) AS tt FROM fp)
        |SELECT '0_corpus' AS stage, count(*) AS n_docs,
        |  CAST(coalesce(sum(len(str_split(text, ' '))), 0) AS BIGINT)
        |    AS n_tokens FROM corpus
        |UNION ALL SELECT '1_gopher', count(*),
        |  CAST(coalesce(sum(len(str_split(text, ' '))), 0) AS BIGINT) FROM kept
        |UNION ALL SELECT '2_neardup', count(*),
        |  CAST(coalesce(sum(len(str_split(text, ' '))), 0) AS BIGINT) FROM surv
        |UNION ALL SELECT '3_decon', count(*),
        |  CAST(coalesce(sum(len(str_split(text, ' '))), 0) AS BIGINT) FROM fin
        |UNION ALL SELECT '4_mix_' || stratum, n_docs,
        |  CAST(round(CAST(sq_fp AS DOUBLE) / CAST(z AS DOUBLE) * tt) AS BIGINT)
        |  FROM fp, tot""".stripMargin,

    // Text equality stands in for the Spark side's md5-manifest
    // equality (collision-free on the fixture, and md5(x)=md5(y) iff
    // x=y for release purposes — the op's own contract).
    "d16_corpus_diff" ->
      """WITH v_old AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 <> 0),
        |v_new AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(v_old.doc_id, v_new.doc_id) AS doc_id,
        |  CASE WHEN v_old.doc_id IS NULL THEN 'added'
        |    WHEN v_new.doc_id IS NULL THEN 'removed'
        |    WHEN v_old.text IS NOT DISTINCT FROM v_new.text
        |      THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM v_old FULL OUTER JOIN v_new ON v_old.doc_id = v_new.doc_id""".stripMargin,

    // Mirrors bm25TopK op-for-op: every double constant is CAST to
    // DOUBLE first (DuckDB parses bare decimal literals as DECIMAL,
    // whose fold to 2.2 etc. differs in the last ulp from the IEEE
    // 1.2 + 1 the Spark side computes), every expression keeps the
    // same associativity, and the per-term score is fixed-pointed
    // before the BIGINT sum — the t19 parity pattern.
    "t21_bm25_topk" ->
      s"""WITH toks AS (
        |  SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |dls AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
        |scalars AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dls),
        |tfs AS (
        |  SELECT id, term, count(*) AS tf FROM toks
        |  WHERE term IN ($bm25QueryInList) GROUP BY id, term),
        |dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
        |scored AS (
        |  SELECT id,
        |    CAST(round(
        |      ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      (tf * (CAST(1.2 AS DOUBLE) + 1)) /
        |      (tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE)
        |         + CAST(0.75 AS DOUBLE) * dl / avgdl)) *
        |      1048576) AS BIGINT) AS s_fp
        |  FROM tfs JOIN dfs USING (term) JOIN dls USING (id), scalars)
        |SELECT id AS doc_id, CAST(sum(s_fp) AS BIGINT) AS score_fp,
        |  count(*) AS n_terms
        |FROM scored GROUP BY id
        |ORDER BY score_fp DESC, doc_id ASC LIMIT 20""".stripMargin,

    // Mirrors dsirSelect op-for-op: buckets are the first two hex
    // chars of md5 (no numeric hex conversion — string buckets join
    // exactly), both distributions come from one pass with a
    // conditional sum, and the Laplace-smoothed log-ratio fixed-points
    // before the per-doc BIGINT sum (the t19 parity pattern).
    "t24_dsir_select" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang = 'en' AS is_t, substr(md5(term), 1, 2) AS bucket
        |  FROM tk),
        |tot AS (
        |  SELECT count(*) AS ns,
        |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt
        |  FROM toks),
        |llr AS (
        |  SELECT bucket,
        |    CAST(round(
        |      (ln((sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1)
        |         / CAST(nt + 256 AS DOUBLE))
        |       - ln((count(*) + 1) / CAST(ns + 256 AS DOUBLE)))
        |      * 1048576) AS BIGINT) AS llr_fp
        |  FROM toks, tot
        |  GROUP BY bucket, nt, ns)
        |SELECT doc_id, CAST(sum(llr_fp) AS BIGINT) AS weight_fp,
        |  count(*) AS n_tokens
        |FROM toks JOIN llr USING (bucket)
        |GROUP BY doc_id
        |ORDER BY weight_fp DESC, doc_id ASC LIMIT 100""".stripMargin,

    // Mirrors Bm25Serve end-to-end: the impacts CTE is the static
    // index (bm25Impacts — t21's per-term formula over EVERY posting,
    // df over the full vocabulary), queries are the first 3 documents'
    // distinct terms, totals exclude self-matches, and ranking cuts
    // at top-10 per query with the (score desc, id) tie-break.
    "st13_bm25_serve" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |dls AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
        |scalars AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dls),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |impacts AS (
        |  SELECT term, id,
        |    CAST(round(
        |      ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      (tf * (CAST(1.2 AS DOUBLE) + 1)) /
        |      (tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE)
        |         + CAST(0.75 AS DOUBLE) * dl / avgdl)) *
        |      1048576) AS BIGINT) AS s_fp
        |  FROM tf JOIN dfs USING (term) JOIN dls USING (id), scalars),
        |queries AS (
        |  SELECT DISTINCT id AS query_id, term FROM toks WHERE id < 3),
        |totals AS (
        |  SELECT q.query_id, i.id, CAST(sum(i.s_fp) AS BIGINT) AS score_fp
        |  FROM queries q JOIN impacts i USING (term)
        |  WHERE i.id != q.query_id
        |  GROUP BY q.query_id, i.id),
        |ranked AS (
        |  SELECT query_id, id, score_fp,
        |    row_number() OVER (
        |      PARTITION BY query_id ORDER BY score_fp DESC, id ASC) AS rank
        |  FROM totals)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, id AS doc_id,
        |  score_fp
        |FROM ranked WHERE rank <= 10""".stripMargin,

    // Mirrors Retrieval.rankedEval over the st13 run re-derivation:
    // the discount/reciprocal/ideal-prefix tables are the OPERATOR's
    // own driver-computed fixed-point literals (dcgGainFp/idcgPrefixFp
    // /rrFp via fpValuesList — single source, no cross-engine
    // transcendental), every sum is a BIGINT add of pre-quantized
    // terms, and nDCG divides with `//` (== Spark's `div` on
    // non-negative BIGINTs). Zero-rel queries (NULL after the left
    // joins) read 0 on every metric — DuckDB's least() skips NULLs
    // like Spark's, so the ideal mass is CASE-masked, not coalesced.
    "t50_ranked_eval" ->
      s"""WITH $t50RunCtes,
        |qrels AS (
        |  SELECT query_id, doc_id FROM ovl WHERE shared >= 20),
        |gains(r, g_fp) AS (VALUES ${fpValuesList(
             graft.ops.Retrieval.dcgGainFp(10))}),
        |pref(m, p_fp) AS (VALUES ${fpValuesList(
             graft.ops.Retrieval.idcgPrefixFp(10))}),
        |rrs(r, v_fp) AS (VALUES ${fpValuesList(
             graft.ops.Retrieval.rrFp(10))}),
        |hits AS (
        |  SELECT query_id, min(rank) AS first_rk,
        |    CAST(sum(g_fp) AS BIGINT) AS dcg_fp, count(*) AS n_hits,
        |    CAST(sum((2097152 * hit_i + rank) // (2 * rank)) AS BIGINT)
        |      AS ap_num_fp
        |  FROM (
        |    SELECT run.query_id, run.rank, g_fp,
        |      row_number() OVER (
        |        PARTITION BY run.query_id ORDER BY run.rank) AS hit_i
        |    FROM run JOIN qrels USING (query_id, doc_id)
        |      JOIN gains ON gains.r = run.rank)
        |  GROUP BY query_id),
        |nrel AS (SELECT query_id, count(*) AS n_rel FROM qrels
        |  GROUP BY query_id),
        |base AS (SELECT DISTINCT query_id FROM run)
        |SELECT b.query_id,
        |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(rr.v_fp, 0) AS BIGINT) AS rr_fp,
        |  CAST(coalesce(h.dcg_fp, 0) AS BIGINT) AS dcg_fp,
        |  CAST(CASE WHEN n.n_rel IS NULL THEN 0 ELSE p.p_fp END
        |    AS BIGINT) AS idcg_fp,
        |  CAST(CASE WHEN n.n_rel IS NOT NULL AND p.p_fp > 0
        |    THEN (coalesce(h.dcg_fp, 0) * 1048576) // p.p_fp
        |    ELSE 0 END AS BIGINT) AS ndcg_fp,
        |  CAST(CASE WHEN coalesce(n.n_rel, 0) > 0
        |    THEN coalesce(h.ap_num_fp, 0) // n.n_rel
        |    ELSE 0 END AS BIGINT) AS ap_fp
        |FROM base b
        |LEFT JOIN nrel n USING (query_id)
        |LEFT JOIN hits h USING (query_id)
        |LEFT JOIN rrs rr ON rr.r = h.first_rk
        |LEFT JOIN pref p ON p.m = least(n.n_rel, 10)""".stripMargin,

    // t51 = t50's chain with graded qrels: the binary metrics reuse
    // t50's CTEs verbatim over rel > 0 (the same >= 20 set), and the
    // graded gain scales the SAME g_fp table by exact (2^rel - 1)
    // integers; the ideal ranking windows over the eval-suite-sized
    // grels only.
    "t51_graded_eval" ->
      s"""WITH $t50RunCtes,
        |grels AS (
        |  SELECT query_id, doc_id,
        |    CASE WHEN shared >= 24 THEN 2 ELSE 1 END AS rel
        |  FROM ovl WHERE shared >= 20),
        |qrels AS (SELECT query_id, doc_id FROM grels),
        |gains(r, g_fp) AS (VALUES ${fpValuesList(
             graft.ops.Retrieval.dcgGainFp(10))}),
        |rrs(r, v_fp) AS (VALUES ${fpValuesList(
             graft.ops.Retrieval.rrFp(10))}),
        |hits AS (
        |  SELECT query_id, min(rank) AS first_rk, count(*) AS n_hits,
        |    CAST(sum((2097152 * hit_i + rank) // (2 * rank)) AS BIGINT)
        |      AS ap_num_fp
        |  FROM (
        |    SELECT run.query_id, run.rank,
        |      row_number() OVER (
        |        PARTITION BY run.query_id ORDER BY run.rank) AS hit_i
        |    FROM run JOIN qrels USING (query_id, doc_id))
        |  GROUP BY query_id),
        |nrel AS (SELECT query_id, count(*) AS n_rel FROM grels
        |  GROUP BY query_id),
        |gdcg AS (
        |  SELECT run.query_id,
        |    CAST(sum(((CAST(1 AS BIGINT) << rel) - 1) * g_fp) AS BIGINT)
        |      AS gdcg_fp
        |  FROM run JOIN grels USING (query_id, doc_id)
        |    JOIN gains ON gains.r = run.rank
        |  GROUP BY run.query_id),
        |gidcg AS (
        |  SELECT query_id,
        |    CAST(sum(((CAST(1 AS BIGINT) << rel) - 1) * g_fp) AS BIGINT)
        |      AS gidcg_fp
        |  FROM (SELECT query_id, rel, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irk
        |    FROM grels)
        |  JOIN gains ON gains.r = irk
        |  WHERE irk <= 10 GROUP BY query_id),
        |base AS (SELECT DISTINCT query_id FROM run)
        |SELECT b.query_id,
        |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(rr.v_fp, 0) AS BIGINT) AS rr_fp,
        |  CAST(CASE WHEN coalesce(n.n_rel, 0) > 0
        |    THEN coalesce(h.ap_num_fp, 0) // n.n_rel
        |    ELSE 0 END AS BIGINT) AS ap_fp,
        |  CAST(coalesce(g.gdcg_fp, 0) AS BIGINT) AS dcg_fp,
        |  CAST(coalesce(i.gidcg_fp, 0) AS BIGINT) AS idcg_fp,
        |  CAST(CASE WHEN coalesce(i.gidcg_fp, 0) > 0
        |    THEN (coalesce(g.gdcg_fp, 0) * 1048576) // i.gidcg_fp
        |    ELSE 0 END AS BIGINT) AS ndcg_fp
        |FROM base b
        |LEFT JOIN nrel n USING (query_id)
        |LEFT JOIN hits h USING (query_id)
        |LEFT JOIN rrs rr ON rr.r = h.first_rk
        |LEFT JOIN gdcg g USING (query_id)
        |LEFT JOIN gidcg i USING (query_id)""".stripMargin,

    // Dense CTE mirrors the s01 oracle (ranks agree with the Spark
    // float-cosine ordering — the same rank-margin argument); sparse
    // CTE is t21's SQL re-ranked; contributions use the same
    // fixed-point division as Retrieval.rrfFuse. CAST(1048576 AS
    // DOUBLE) keeps the division a double op (DuckDB's `/` on
    // integers already is, the cast just pins it).
    "t23_hybrid_rrf" ->
      s"""WITH dense AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT c.vec_id AS doc_id,
        |      row_number() OVER (
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |          c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id = 0)
        |  WHERE rank <= 20),
        |toks AS (
        |  SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |dls AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
        |scalars AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dls),
        |tfs AS (
        |  SELECT id, term, count(*) AS tf FROM toks
        |  WHERE term IN ($bm25QueryInList) GROUP BY id, term),
        |dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
        |scored AS (
        |  SELECT id,
        |    CAST(round(
        |      ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      (tf * (CAST(1.2 AS DOUBLE) + 1)) /
        |      (tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE)
        |         + CAST(0.75 AS DOUBLE) * dl / avgdl)) *
        |      1048576) AS BIGINT) AS s_fp
        |  FROM tfs JOIN dfs USING (term) JOIN dls USING (id), scalars),
        |bmtop AS (
        |  SELECT id AS doc_id, CAST(sum(s_fp) AS BIGINT) AS score_fp
        |  FROM scored GROUP BY id
        |  ORDER BY score_fp DESC, doc_id ASC LIMIT 20),
        |sparse AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rank
        |  FROM bmtop),
        |unioned AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(1048576 AS DOUBLE) / (60 + rank)) AS BIGINT) AS c_fp
        |  FROM dense
        |  UNION ALL
        |  SELECT doc_id,
        |    CAST(round(CAST(1048576 AS DOUBLE) / (60 + rank)) AS BIGINT) AS c_fp
        |  FROM sparse)
        |SELECT doc_id, CAST(sum(c_fp) AS BIGINT) AS rrf_fp,
        |  count(*) AS n_lists
        |FROM unioned GROUP BY doc_id
        |ORDER BY rrf_fp DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Same trigram construction as the d09 oracle (with the <3-token
    // whole-text fallback); df counts distinct docs because spans are
    // distinct per doc, so df >= 2 = shared with another document.
    "d12_dupspan_stats" ->
      """WITH spans AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |dup AS (SELECT s FROM spans GROUP BY s HAVING count(*) >= 2)
        |SELECT sp.id AS doc_id, count(*) AS n_spans,
        |  CAST(count(d.s) AS BIGINT) AS n_dup,
        |  CAST(count(d.s) AS DOUBLE) / count(*) AS dup_frac
        |FROM spans sp LEFT JOIN dup d USING (s)
        |GROUP BY sp.id""".stripMargin,

    // Same quality expression as the t02 oracle; the window cumsum is
    // the oracle-side equivalent of the distributed prefix sum (fine
    // single-node, the exact plan the Spark side must avoid).
    "t22_budget_select" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3
        |      AS quality,
        |    CAST(len(w) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)),
        |placed AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM q)
        |SELECT doc_id, n_tokens, cum_before,
        |  CAST(CASE WHEN cum_before + n_tokens <= 20000 THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM placed""".stripMargin,

    // The streaming chunker emits the same rows as t20 (stateless
    // in-row projection over the same window arithmetic), so it
    // shares t20's oracle verbatim.
    "st11_stream_chunks" ->
      """WITH base AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, w,
        |    unnest(range(1 + CAST(ceil(greatest(len(w) - 64, 0) / 32.0) AS BIGINT)))
        |      AS i
        |  FROM base)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i*32 + 1 AS BIGINT) AS start_tok,
        |  CAST(len(w[(i*32+1):(i*32+64)]) AS BIGINT) AS n_tok,
        |  array_to_string(w[(i*32+1):(i*32+64)], ' ') AS chunk_text
        |FROM wins""".stripMargin,

    // Same window arithmetic as TextAnalysis.chunkWindows: nWindows =
    // 1 + ceil(max(len-64,0)/32); DuckDB's 1-based inclusive slice
    // w[a:b] clamps like Spark's slice(w, a, 64).
    "t20_chunk_windows" ->
      """WITH base AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, w,
        |    unnest(range(1 + CAST(ceil(greatest(len(w) - 64, 0) / 32.0) AS BIGINT)))
        |      AS i
        |  FROM base)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i*32 + 1 AS BIGINT) AS start_tok,
        |  CAST(len(w[(i*32+1):(i*32+64)]) AS BIGINT) AS n_tok,
        |  array_to_string(w[(i*32+1):(i*32+64)], ' ') AS chunk_text
        |FROM wins""".stripMargin,

    "t01_token_stats" ->
      """SELECT doc_id,
        |  len(w) AS n_tokens,
        |  len(list_distinct(w)) AS n_distinct,
        |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_token_len
        |FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)""".stripMargin,

    "t02_quality" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w) AS stopword_ratio,
        |  (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |    + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |    + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS quality
        |FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)""".stripMargin,

    "t03_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN g = 0 THEN 'und'
        |    WHEN s_en = g THEN 'en' WHEN s_de = g THEN 'de' WHEN s_es = g THEN 'es'
        |    WHEN s_fr = g THEN 'fr' WHEN s_zh = g THEN 'zh' ELSE 'und' END AS pred_lang
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w) AS s_en,
        |    CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w) AS s_de,
        |    CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w) AS s_es,
        |    CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w) AS s_fr,
        |    CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w) AS s_zh,
        |    greatest(
        |      CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w),
        |      CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w),
        |      CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w),
        |      CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w),
        |      CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w)) AS g
        |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))""".stripMargin,

    "t04_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin,

    // t55: t02's quality expression and t03's langid CASE recomposed;
    // bin membership is floor of a double both engines produce
    // bit-identically, so the whole table is exact.
    "t55_quality_calibration" ->
      """WITH q AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |      + least((CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w)) * 10.0, 1.0) * 0.3 AS quality
        |  FROM (SELECT doc_id, n_chars, str_split(text, ' ') AS w FROM documents)),
        |lang AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN g = 0 THEN 'und'
        |      WHEN s_en = g THEN 'en' WHEN s_de = g THEN 'de' WHEN s_es = g THEN 'es'
        |      WHEN s_fr = g THEN 'fr' WHEN s_zh = g THEN 'zh' ELSE 'und' END AS pred_lang
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w) AS s_en,
        |      CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w) AS s_de,
        |      CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w) AS s_es,
        |      CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w) AS s_fr,
        |      CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w) AS s_zh,
        |      greatest(
        |        CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w)) AS g
        |    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))),
        |b AS (
        |  SELECT least(CAST(floor(q.quality * 10) AS BIGINT), 9) AS bin,
        |    CASE WHEN lang.pred_lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    q.n_chars
        |  FROM q JOIN lang USING (doc_id))
        |SELECT bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST((sum(pos) // count(*)) * 1048576
        |    + ((sum(pos) % count(*)) * 1048576) // count(*) AS BIGINT)
        |    AS pos_rate_fp,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM b GROUP BY 1""".stripMargin,

    // t03's marker-overlap argmax (same profiles, same tie order, same
    // zero-evidence 'und' guard) with the table's own lang carried as
    // truth, then the (truth, pred) census and the Euclidean-split
    // fixed-point row share — all BIGINT, bit-exact.
    "t54_langid_confusion" ->
      """WITH pred AS (
        |  SELECT lang,
        |    CASE
        |      WHEN g = 0 THEN 'und'
        |      WHEN s_en = g THEN 'en' WHEN s_de = g THEN 'de' WHEN s_es = g THEN 'es'
        |      WHEN s_fr = g THEN 'fr' WHEN s_zh = g THEN 'zh' ELSE 'und' END AS pl
        |  FROM (
        |    SELECT lang,
        |      CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w) AS s_en,
        |      CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w) AS s_de,
        |      CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w) AS s_es,
        |      CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w) AS s_fr,
        |      CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w) AS s_zh,
        |      greatest(
        |        CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w)) AS g
        |    FROM (SELECT lang, str_split(text, ' ') AS w FROM documents))),
        |pairs AS (SELECT lang AS truth, pl AS pred,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM pred GROUP BY 1, 2),
        |tot AS (SELECT truth, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM pairs GROUP BY 1)
        |SELECT truth, pred, n, row_total,
        |  (n // row_total) * 1048576
        |    + ((n % row_total) * 1048576) // row_total AS row_share_fp
        |FROM pairs JOIN tot USING (truth)""".stripMargin,

    "t05_term_doc_freq" ->
      """SELECT term, count(*) AS doc_freq FROM (
        |  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS term FROM documents)
        |GROUP BY term""".stripMargin,

    "t06_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, count(*) AS doc_freq FROM (
        |    SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rk, term, score FROM (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq), 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq), 6) DESC,
        |               tf.term ASC) AS rk
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |WHERE rk <= 3""".stripMargin,

    "s01_ann_brute" ->
      """SELECT query_id, rank, nbr_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE rank <= 10""".stripMargin,

    // s01's window form with the label inequality fused into the join.
    "s19_hard_negatives" ->
      """SELECT query_id, rank, nbr_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id != c.vec_id AND q.label != c.label
        |  WHERE q.vec_id < 20)
        |WHERE rank <= 5""".stripMargin,

    "s06_mips_brute" ->
      """SELECT query_id, rank, nbr_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE rank <= 10""".stripMargin,

    "m01_media_meta" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS media_size,
        |  16 + octet_length(CAST(text AS BLOB)) % 624 AS width,
        |  16 + ascii(text) AS height
        |FROM documents""".stripMargin,

    "m03_resize" ->
      """SELECT doc_id,
        |  16 + octet_length(CAST(text AS BLOB)) % 624 AS width,
        |  16 + ascii(text) AS height,
        |  64 AS new_w,
        |  greatest(1, CAST(floor((16 + ascii(text)) * 64.0 / (16 + octet_length(CAST(text AS BLOB)) % 624) + 0.5) AS INT)) AS new_h
        |FROM documents""".stripMargin,

    "t07_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(str_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS rolling_fp
        |FROM documents""".stripMargin,

    // The identical token/gram polynomial arithmetic and the same
    // rightmost-min rule, expressed as list_min + a reversed
    // list_position (rightmost 0-based pos = q + L − position of the
    // min in the reversed slice) — every intermediate an exact BIGINT.
    "t44_winnow_fp" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(t, tok ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(str_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007)) AS hs FROM tk),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(hs) >= 3 THEN
        |      list_transform(range(1, len(hs) - 1), p ->
        |        (((hs[p] * 1000003 + hs[p+1]) % 1000000007) * 1000003
        |          + hs[p+2]) % 1000000007)
        |    ELSE CAST([] AS BIGINT[]) END AS gs FROM th),
        |sel AS (SELECT doc_id, gs,
        |    CASE WHEN len(gs) > 0 THEN
        |      list_distinct(list_transform(
        |        range(0, greatest(len(gs) - 4, 0) + 1), q ->
        |          q + least(4, len(gs) - q)
        |            - list_position(
        |                list_reverse(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))),
        |                list_min(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))))))
        |    ELSE CAST([] AS BIGINT[]) END AS fps FROM g)
        |SELECT doc_id,
        |  CAST(len(gs) AS BIGINT) AS n_grams,
        |  CAST(len(fps) AS BIGINT) AS n_fps,
        |  CAST(COALESCE(list_sum(list_transform(fps, p ->
        |    gs[CAST(p AS INT) + 1] + p)), 0) AS BIGINT) AS fp_mass
        |FROM sel""".stripMargin,

    // t44's selection CTEs, then the distinct per-doc hash sets
    // self-joined and intersection-counted — the identical pair
    // semantics.
    "t45_winnow_pairs" ->
      """WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(t, tok ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(str_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007)) AS hs FROM tk),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(hs) >= 3 THEN
        |      list_transform(range(1, len(hs) - 1), p ->
        |        (((hs[p] * 1000003 + hs[p+1]) % 1000000007) * 1000003
        |          + hs[p+2]) % 1000000007)
        |    ELSE CAST([] AS BIGINT[]) END AS gs FROM th),
        |sel AS (SELECT doc_id, gs,
        |    CASE WHEN len(gs) > 0 THEN
        |      list_distinct(list_transform(
        |        range(0, greatest(len(gs) - 4, 0) + 1), q ->
        |          q + least(4, len(gs) - q)
        |            - list_position(
        |                list_reverse(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))),
        |                list_min(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))))))
        |    ELSE CAST([] AS BIGINT[]) END AS fps FROM g),
        |sets AS (SELECT DISTINCT doc_id, u.fp AS fp
        |  FROM sel, unnest(list_transform(fps, p ->
        |    gs[CAST(p AS INT) + 1])) AS u(fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM sets a JOIN sets b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // t45's CTEs over the header-planted corpus, then BOTH pair
    // censuses from one distinct fingerprint-set table: uncapped
    // directly, capped through the df census (fingerprints in > 10
    // docs never reach the self-join). All exact BIGINT — the planted
    // 780 pairs and their collapse under the cap are facts, not
    // tolerances.
    "t45_capped_pairs" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id < 40 THEN '$LicenseHeader ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM d2),
        |th AS (SELECT doc_id, list_transform(t, tok ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(str_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007)) AS hs FROM tk),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(hs) >= 3 THEN
        |      list_transform(range(1, len(hs) - 1), p ->
        |        (((hs[p] * 1000003 + hs[p+1]) % 1000000007) * 1000003
        |          + hs[p+2]) % 1000000007)
        |    ELSE CAST([] AS BIGINT[]) END AS gs FROM th),
        |sel AS (SELECT doc_id, gs,
        |    CASE WHEN len(gs) > 0 THEN
        |      list_distinct(list_transform(
        |        range(0, greatest(len(gs) - 4, 0) + 1), q ->
        |          q + least(4, len(gs) - q)
        |            - list_position(
        |                list_reverse(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))),
        |                list_min(list_slice(gs, CAST(q + 1 AS INT),
        |                  CAST(least(q + 4, len(gs)) AS INT))))))
        |    ELSE CAST([] AS BIGINT[]) END AS fps FROM g),
        |sets AS (SELECT DISTINCT doc_id, u.fp AS fp
        |  FROM sel, unnest(list_transform(fps, p ->
        |    gs[CAST(p AS INT) + 1])) AS u(fp)),
        |kept AS (SELECT s.doc_id, s.fp FROM sets s
        |  JOIN (SELECT fp FROM sets GROUP BY fp HAVING count(*) <= 10)
        |    c USING (fp)),
        |up AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sets a JOIN sets b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT
        |  (SELECT count(*) FROM up) AS n_pairs_uncapped,
        |  (SELECT count(*) FROM up WHERE doc_a < 40 AND doc_b < 40)
        |    AS n_planted_uncapped,
        |  (SELECT count(*) FROM cp) AS n_pairs_capped,
        |  (SELECT count(*) FROM cp WHERE doc_a < 40 AND doc_b < 40)
        |    AS n_planted_capped""".stripMargin,

    // The identical HTML-ification (same boilerplate constants, same
    // ceil/slice reflow) and the identical extraction chain: script/
    // style removal first (their payloads carry '<'), anchor runs
    // marked chr(1)/chr(2) before the tag strip, closing block tags to
    // chr(10), tag strip, entity decode with &amp; LAST, then the
    // per-line prose gate (>= 5 real tokens AND alnum >= 50% of
    // non-space chars AND anchor nonspace mass <= 33% — the jusText
    // link-density rule; the 8-link nav passes the token rule and
    // drops HERE) — every step the Java-regex/RE2 common subset, so
    // the extracted STRING itself hash-matches, not just counts. The
    // predicate recomputes the visible form where the Spark side
    // carries a struct — same semantics, engine-idiomatic shapes.
    // (st23 shares this SQL verbatim — the streaming serve is the same
    // pipeline function drained, the st19/d07 precedent.)
    "t46_html_extract" -> htmlExtractSql,

    // Every stat re-derived independently: the census over the split
    // word table, quartiles via row_number over the same (quality,
    // doc_id) order, contamination as distinct corpus docs sharing a
    // trigram with the bench split, PII via the t10 scrub chain.
    "p09_dataset_card" ->
      """WITH wd AS (
        |  SELECT doc_id, text, lang, source, str_split(text, ' ') AS w
        |  FROM documents),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(w)) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts FROM wd),
        |sc AS (SELECT doc_id,
        |  (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END) * 0.4
        |  + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |  + least((CAST(len(list_filter(w, x ->
        |      x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w))
        |      * 10.0, 1.0) * 0.3 AS quality
        |  FROM wd),
        |rk AS (SELECT quality,
        |    row_number() OVER (ORDER BY quality, doc_id) AS rk FROM sc),
        |qs AS (SELECT
        |  min(CASE WHEN rk = CAST(ceil(0.25 * n_docs) AS BIGINT)
        |    THEN quality END) AS q25,
        |  min(CASE WHEN rk = CAST(ceil(0.5 * n_docs) AS BIGINT)
        |    THEN quality END) AS q50,
        |  min(CASE WHEN rk = CAST(ceil(0.75 * n_docs) AS BIGINT)
        |    THEN quality END) AS q75
        |  FROM rk, base),
        |grams AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM wd)),
        |cont AS (SELECT CAST(count(*) AS BIGINT) AS n_contaminated_docs
        |  FROM (SELECT c.id FROM
        |    (SELECT id, s FROM grams WHERE id % 20 <> 0) c
        |    JOIN (SELECT DISTINCT s FROM grams WHERE id % 20 = 0) b
        |    USING (s) GROUP BY c.id)),
        |pii AS (SELECT CAST(count(*) AS BIGINT) AS n_pii_docs
        |  FROM documents
        |  WHERE regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d()\s.-]{7,}\d', '<PHONE>', 'g') <> text)
        |SELECT base.*, qs.*, cont.*, pii.* FROM base, qs, cont, pii""".stripMargin,

    "t48_url_normalize" ->
      s"""WITH ${urlSynthCte("documents")},
        |$urlNormCtes
        |SELECT doc_id, url, norm_url, domain FROM normed""".stripMargin,

    "d22_url_dedup" ->
      s"""WITH ${urlSynthCte("documents")},
        |$urlNormCtes
        |SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM normed GROUP BY norm_url""".stripMargin,

    "t49_domain_gate" -> urlGateSql,
    "st24_url_gate_serve" -> urlGateSql,
    "st23_html_extract_serve" -> htmlExtractSql,

    // One exact basis for all four policies: d06's component CTE gives
    // hard survivors (id = component) and soft cluster sizes (window
    // count -> 2^20 // size); d24's reflow/window SQL gives the line
    // survivors; masses are character counts scaled to 2^-20 fixed
    // point (BIGINT end to end, HUGEINT sums cast back down).
    "p11_dedup_policy_card" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id AS id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |      ELSE [text] END) AS s
        |    FROM (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents)) ),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2),
        |prs AS (
        |  SELECT doc_a, doc_b FROM inter JOIN sz x ON doc_a = x.id JOIN sz y ON doc_b = y.id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs UNION SELECT doc_b, doc_a FROM prs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |wts AS (SELECT id AS doc_id,
        |    CAST(1048576 AS BIGINT)
        |      // (count(*) OVER (PARTITION BY component)) AS weight_fp
        |  FROM comp),
        |tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        |rf AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
        |      i -> array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' '))
        |      AS ls FROM tk),
        |lns AS (SELECT doc_id,
        |    unnest([{'p': i - 1, 'line': ls[i]}
        |            for i in range(1, len(ls) + 1)], recursive := true)
        |  FROM rf),
        |rn AS (SELECT doc_id, p, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS r
        |  FROM lns),
        |clean AS (SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN r = 1 OR len(line) = 0 THEN line END,
        |      chr(10) ORDER BY p), '') AS ct
        |  FROM rn GROUP BY doc_id)
        |SELECT 'baseline' AS policy, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) * 1048576 AS BIGINT) AS mass_fp
        |FROM documents
        |UNION ALL
        |SELECT 'hard_neardup', CAST(count(*) AS BIGINT),
        |  CAST(sum(length(d.text)) * 1048576 AS BIGINT)
        |FROM comp c JOIN documents d ON d.doc_id = c.id
        |WHERE c.id = c.component
        |UNION ALL
        |SELECT 'soft_neardup', CAST(count(*) AS BIGINT),
        |  CAST(sum(w.weight_fp * length(d.text)) AS BIGINT)
        |FROM wts w JOIN documents d USING (doc_id)
        |UNION ALL
        |SELECT 'line_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(length(ct)) * 1048576 AS BIGINT)
        |FROM clean""".stripMargin,

    // The four-stage assembly over the duplicate-augmented corpus:
    // the shared extraction CTE chain re-sourced at d0 (the builder —
    // one definition with t46), then md5-keyed min-id survivors, the
    // t02 quality formula over the extracted text, and the running-sum
    // budget cut at 8000 tokens — ORDER BY (quality DESC, doc_id), the
    // selector's exact total order.
    "p07_web_assembly" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |urls AS (SELECT doc_id,
        |  CASE WHEN doc_id < 1000000
        |    THEN 'https://crawl.example.com/doc/' || doc_id
        |    ELSE 'HTTPS://WWW.Crawl.Example.COM:443/doc/' ||
        |      (doc_id - 1000000) || '?utm_source=recrawl#cached'
        |  END AS url FROM d0),
        |$urlNormCtes,
        |sv0 AS (SELECT min(doc_id) AS doc_id FROM normed GROUP BY norm_url),
        |s0 AS (SELECT d0.doc_id, d0.text FROM d0 JOIN sv0 USING (doc_id)),
        |${htmlExtractCtes("s0")},
        |cl AS (SELECT doc_id, extracted AS text FROM ex),
        |sv AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY md5(text)),
        |svt AS (SELECT cl.doc_id, cl.text FROM cl JOIN sv USING (doc_id)),
        |tk2 AS (SELECT doc_id, str_split(text, ' ') AS w FROM svt),
        |sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    (CASE WHEN len(w) BETWEEN 20 AND 90 THEN 1.0 ELSE 0.5 END)
        |      * 0.4
        |    + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.3
        |    + least((CAST(len(list_filter(w, x ->
        |        x IN ('the','a','of','and','in'))) AS DOUBLE) / len(w))
        |        * 10.0, 1.0) * 0.3 AS quality
        |  FROM tk2),
        |rk2 AS (SELECT doc_id, n_tokens, quality,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM sc),
        |kp2 AS (SELECT doc_id, n_tokens, quality,
        |    CASE WHEN cum_before + n_tokens <= 8000 THEN 1 ELSE 0 END
        |      AS kept
        |  FROM rk2)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CAST(sum(kept * n_tokens) AS BIGINT) AS picked_tokens,
        |  min(CASE WHEN kept = 1 THEN quality END) AS q_threshold,
        |  CAST(sum(kept * doc_id) AS BIGINT) AS ids_fp,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_input,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d0) AS n_crawled
        |FROM kp2""".stripMargin,

    // p10's twin = p07's first stages rebuilt relationally from
    // documents (same d0/urls/normalization/extraction CTEs) — legal
    // because the WARC round-trip the Spark side actually executes is
    // bit-lossless, which m08's fingerprint census pins separately.
    "p10_warc_assembly" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |urls AS (SELECT doc_id,
        |  CASE WHEN doc_id < 1000000
        |    THEN 'https://crawl.example.com/doc/' || doc_id
        |    ELSE 'HTTPS://WWW.Crawl.Example.COM:443/doc/' ||
        |      (doc_id - 1000000) || '?utm_source=recrawl#cached'
        |  END AS url FROM d0),
        |$urlNormCtes,
        |sv0 AS (SELECT min(doc_id) AS doc_id FROM normed GROUP BY norm_url),
        |s0 AS (SELECT d0.doc_id, d0.text FROM d0 JOIN sv0 USING (doc_id)),
        |${htmlExtractCtes("s0")},
        |cl AS (SELECT doc_id, extracted AS text FROM ex),
        |sv AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY md5(text)),
        |svt AS (SELECT cl.doc_id, cl.text FROM cl JOIN sv USING (doc_id))
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(len(str_split(text, ' '))) AS BIGINT)
        |    AS survivor_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS ids_fp,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d0) AS n_crawled,
        |  (SELECT CAST(count(DISTINCT url) AS BIGINT) FROM urls)
        |    AS n_urls,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_after_url
        |FROM svt""".stripMargin,
    // Stub-path aHash: first 64 UTF-8 BYTES as the pixel grid (hex-pair
    // slicing of encode(text) — byte-exact vs Spark's bytes(i), unlike
    // a character-indexed ord/substr form that diverges on any
    // multi-byte text), bit i set iff 64·b_i > Σb (integer threshold,
    // no fractional mean); bit 63 contributes the signed minimum so
    // the packed value equals the JVM's two's-complement long
    // bit-for-bit.
    // The m08 round-trip census STRAIGHT from the documents table —
    // no WARC model in SQL: if serialize→parse moved a single byte in
    // any payload or URL, or dropped/duplicated a record, a
    // fingerprint or count diverges. Fingerprints are the established
    // order-independent md5-prefix sums (the 5162-line convention);
    // strlen == Spark's octet_length on this ASCII fixture (the
    // parser's byte-framing on non-ASCII is OpsSpec's hand fixture).
    "m08_warc_census" -> WarcCensusOracle,

    "st28_warc_ingest_serve" -> WarcCensusOracle,

    // Straight from documents — no JSON model in SQL: if the Spark
    // side's to_json/from_json round trip moved any value, a
    // fingerprint moves.
    "m09_jsonl_census" ->
      """SELECT
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(DISTINCT doc_id // 50) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_parsed,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS text_fp,
        |  CAST(sum(CAST(('0x' || substr(md5(lang), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS lang_fp,
        |  CAST(sum(doc_id) AS BIGINT) AS ids_fp
        |FROM documents""".stripMargin,

    // The sidecar round trip is lossless and aligned by construction,
    // so the twin computes the identical census DIRECTLY over the
    // documents table: t03's langid CASE, t37's gopher m-CTE, and the
    // t10 patterns as regexp_extract_all counts. n_aligned = count(*)
    // is the twin's alignment assertion — if the engine's (seg,
    // line_index) pairing ever slipped a row, the Spark side's
    // n_aligned would fall below n_lines and hash-mismatch here.
    "m10_attributes_sidecar" ->
      """WITH lang AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN g = 0 THEN 'und'
        |      WHEN s_en = g THEN 'en' WHEN s_de = g THEN 'de' WHEN s_es = g THEN 'es'
        |      WHEN s_fr = g THEN 'fr' WHEN s_zh = g THEN 'zh' ELSE 'und' END AS pred_lang
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w) AS s_en,
        |      CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w) AS s_de,
        |      CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w) AS s_es,
        |      CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w) AS s_fr,
        |      CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w) AS s_zh,
        |      greatest(
        |        CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w)) AS g
        |    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))),
        |gop AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE)
        |      / len(t) AS mean_word_len,
        |    CAST(len(list_filter(t, w -> contains(w, '#')
        |        OR contains(w, '...'))) AS DOUBLE) / len(t) AS symbol_ratio,
        |    CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS DOUBLE) / len(t) AS alpha_frac,
        |    CAST(len(list_filter(
        |      ['the','a','of','and','in'],
        |      s -> list_contains(t, s))) AS BIGINT) AS n_stop
        |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)),
        |pii AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      + len(regexp_extract_all(text,
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |      + len(regexp_extract_all(text,
        |        '\+?\d[\d()\s.-]{7,}\d')) AS BIGINT) AS n_pii
        |  FROM documents)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(DISTINCT d.doc_id // 50) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_aligned,
        |  CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS text_fp,
        |  CAST(sum(CAST(('0x' || substr(md5(lang.pred_lang), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS lang_fp,
        |  CAST(sum(gop.n_words) AS BIGINT) AS words_total,
        |  CAST(sum(gop.n_stop) AS BIGINT) AS stop_total,
        |  CAST(sum(CASE WHEN gop.n_words BETWEEN 50 AND 100000
        |    AND gop.mean_word_len BETWEEN 3 AND 10
        |    AND gop.symbol_ratio <= 0.1
        |    AND gop.alpha_frac >= 0.8
        |    AND gop.n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS kept_total,
        |  CAST(sum(pii.n_pii) AS BIGINT) AS pii_total
        |FROM documents d
        |JOIN lang USING (doc_id) JOIN gop USING (doc_id)
        |JOIN pii USING (doc_id)""".stripMargin,

    // p12 recomputes the taggers directly over documents and applies
    // the same mix rule the Spark side reads off the attribute shards
    // — the sidecar round trip being lossless makes the two equal.
    "p12_sidecar_filter" ->
      """WITH lang AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN g = 0 THEN 'und'
        |      WHEN s_en = g THEN 'en' WHEN s_de = g THEN 'de' WHEN s_es = g THEN 'es'
        |      WHEN s_fr = g THEN 'fr' WHEN s_zh = g THEN 'zh' ELSE 'und' END AS pred_lang
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w) AS s_en,
        |      CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w) AS s_de,
        |      CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w) AS s_es,
        |      CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w) AS s_fr,
        |      CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w) AS s_zh,
        |      greatest(
        |        CAST(len(list_filter(w, x -> x IN ('the','a','order','table','key'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('customer','hash','join','group','row'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('slow','agg','data','scan','part'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('scan','batch','data','merge','filter'))) AS DOUBLE) / len(w),
        |        CAST(len(list_filter(w, x -> x IN ('join','small','row','stream','window'))) AS DOUBLE) / len(w)) AS g
        |    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      + len(regexp_extract_all(text,
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |      + len(regexp_extract_all(text,
        |        '\+?\d[\d()\s.-]{7,}\d')) AS BIGINT) AS n_pii
        |  FROM documents)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN lang.pred_lang = 'en' AND m.n_words >= 45
        |    AND m.n_pii = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN lang.pred_lang <> 'en' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fail_lang,
        |  CAST(sum(CASE WHEN m.n_words < 45 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fail_len,
        |  CAST(sum(CASE WHEN m.n_pii <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fail_pii,
        |  CAST(sum(CASE WHEN lang.pred_lang = 'en' AND m.n_words >= 45
        |    AND m.n_pii = 0 THEN d.n_chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars,
        |  CAST(sum(CASE WHEN lang.pred_lang = 'en' AND m.n_words >= 45
        |    AND m.n_pii = 0
        |    THEN CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS kept_text_fp
        |FROM documents d
        |JOIN lang USING (doc_id) JOIN m USING (doc_id)""".stripMargin,

    "m04_phash" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id,
        |    [CASE WHEN i <= n THEN ('0x' || substr(h, 2*i-1, 2))::BIGINT
        |      ELSE 0 END FOR i IN range(1, 65)] AS cs
        |  FROM hx),
        |t AS (SELECT doc_id, cs, list_sum(cs) AS tot FROM cells)
        |SELECT doc_id,
        |  CAST(list_sum([CASE WHEN 64 * cs[i+1] > tot THEN
        |      CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |        ELSE (CAST(1 AS BIGINT) << i) END
        |      ELSE 0 END FOR i IN range(0, 64)]) AS BIGINT) AS phash
        |FROM t""".stripMargin,

    // m04's phash construction + m05's hamming cut + d06's recursive
    // component closure: min-id components over the image near-dup
    // graph.
    "m06_phash_clusters" ->
      """WITH RECURSIVE hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id,
        |    [CASE WHEN i <= n THEN ('0x' || substr(h, 2*i-1, 2))::BIGINT
        |      ELSE 0 END FOR i IN range(1, 65)] AS cs
        |  FROM hx),
        |t AS (SELECT doc_id, cs, list_sum(cs) AS tot FROM cells),
        |p AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN 64 * cs[i+1] > tot THEN
        |        CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |          ELSE (CAST(1 AS BIGINT) << i) END
        |        ELSE 0 END FOR i IN range(0, 64)]) AS BIGINT) AS phash
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM p a JOIN p b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id)
        |SELECT id AS doc_id, min(r) AS component,
        |  CAST(id = min(r) AS INT) AS keep
        |FROM reach GROUP BY id""".stripMargin,

    // All-pairs on the phash (fine at oracle scale; the Spark side is
    // the banded equi-join) with the identical hamming cut.
    "m05_phash_pairs" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id,
        |    [CASE WHEN i <= n THEN ('0x' || substr(h, 2*i-1, 2))::BIGINT
        |      ELSE 0 END FOR i IN range(1, 65)] AS cs
        |  FROM hx),
        |t AS (SELECT doc_id, cs, list_sum(cs) AS tot FROM cells),
        |p AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN 64 * cs[i+1] > tot THEN
        |        CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |          ELSE (CAST(1 AS BIGINT) << i) END
        |        ELSE 0 END FOR i IN range(0, 64)]) AS BIGINT) AS phash
        |  FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin,

    "m02_frame_sample" ->
      """SELECT doc_id, n_frames, frame_id,
        |  least(64, media_size - frame_id * 64) AS frame_len
        |FROM (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS media_size,
        |    CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS INT) AS n_frames
        |  FROM documents), unnest(range(0, n_frames)) AS u(frame_id)
        |WHERE frame_id % 2 = 0""".stripMargin,

    // m02's chunking + the stub-path frame metrics recomputed from raw
    // bytes (the m04 hex-substr idiom): per sampled frame the exact
    // byte list, decodeStub's dim conventions, and the pure-integer
    // luminance floor(sum·2^20 / (255·len)) — bit-exact because the
    // text fixture never carries image magic (the real GIF path is
    // OpsSpec-pinned).
    "m07_anim_frames" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS hh,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |fr AS (SELECT doc_id, hh, n,
        |    CAST(ceil(n / 64.0) AS INT) AS n_frames FROM hx),
        |sampled AS (
        |  SELECT doc_id, hh, n, n_frames, frame_id
        |  FROM fr, unnest(range(0, n_frames)) AS u(frame_id)
        |  WHERE frame_id % 2 = 0),
        |b AS (
        |  SELECT doc_id, n_frames, frame_id,
        |    least(64, n - frame_id * 64) AS len,
        |    [('0x' || substr(hh, CAST(2*(frame_id*64 + i) + 1 AS INT), 2))::BIGINT
        |      FOR i IN range(0, least(64, n - frame_id * 64))] AS bs
        |  FROM sampled)
        |SELECT doc_id, n_frames, CAST(frame_id AS INT) AS frame_id,
        |  CAST(16 + len % 624 AS INT) AS w,
        |  CAST(16 + bs[1] AS INT) AS h,
        |  CAST(list_sum(bs) * 1048576 // (255 * len) AS BIGINT) AS luma_fp
        |FROM b""".stripMargin,

    "st02_stateful_sessions" ->
      """SELECT user_id,
        |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |GROUP BY user_id""".stripMargin,

    // Gaps-and-islands twin of the native session_window semantics:
    // Spark merges an event landing EXACTLY at the previous session's
    // end (inclusive merge, pinned by the OpsSpec boundary fixture),
    // so only a strictly-greater gap starts a new session — hence
    // `> 1800000000`. Both window orderings carry event_id so
    // same-microsecond ties resolve identically.
    "st14_session_windows" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, min(us) AS sess_start, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "st04_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, count(*) AS n_prior_events
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, epoch_us(ts) AS us FROM events) e
        |  ON p.user_id = e.user_id
        | AND e.us >= p.p_us - 3600000000 AND e.us < p.p_us
        |GROUP BY p.user_id, p.event_id""".stripMargin,

    // st04's shape as a LEFT JOIN: count(e.event_id) gives 0 for
    // unmatched purchases.
    "st18_stream_join_outer" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  CAST(count(e.event_id) AS BIGINT) AS n_prior_events
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, event_id, epoch_us(ts) AS us FROM events) e
        |  ON p.user_id = e.user_id
        | AND e.us >= p.p_us - 3600000000 AND e.us < p.p_us
        |GROUP BY p.user_id, p.event_id""".stripMargin,

    "st03_stream_dedup" ->
      """SELECT event_type, count(*) AS n_distinct_users
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type""".stripMargin,

    // Watermark horizon covers the whole fixture span, so bounded-state
    // dedup equals exact DISTINCT.
    "st05_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n_distinct_users
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type""".stripMargin,

    "st01_stream_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // The streaming sketch + exact recount must equal the plain
    // frequency query — same oracle as batch t12.
    "st06_stream_heavy" ->
      """WITH toks AS (
        |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT term, count(*) AS n
        |FROM toks GROUP BY term
        |HAVING count(*) * 100 >= (SELECT n FROM tot) * 1""".stripMargin
  ) ++ pinnedValues.map { case (name, cols) => name -> pinnedCounts(cols: _*) }

  def all: Map[String, (SparkSession, String) => DataFrame] =
    relational ++ relational2 ++ pipeline

  def oracles: Map[String, String] =
    relationalOracles ++ relational2Oracles ++ pipelineOracles
}
