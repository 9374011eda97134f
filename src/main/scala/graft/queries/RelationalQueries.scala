package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.detsum.{sumDet, sumDetSql}

/** Relational core over the TPC-H-ish star schema: multi-aggregate scans,
  * broadcast joins, window functions, semi/anti joins, range joins. Proves
  * the engine handles the general declarative surface, with plans that scale
  * (dims broadcast, partial aggregation, pushdown). */
object RelationalQueries {
  import Flows.DAY_MS

  private val moneyScale = 6

  /** Bucketed copies of orders/lineitem co-partitioned on the order key —
    * built ONCE per (dataset, session) like a real warehouse layout, then
    * every orderkey join/aggregation runs with ZERO exchanges (bucket-aware
    * scan → sort-merge join → partial agg, all co-located). This is the
    * 100 TB strategy the SURVEY §6 promises: pay the shuffle once at write
    * time, never again at read time. Table names carry the dataset dir so
    * suites over different SFs cannot collide. */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val (ordT, liT) = (s"graft_orders_b$tag", s"graft_lineitem_b$tag")
    if (!s.catalog.tableExists(liT) || !s.catalog.tableExists(ordT)) synchronized {
      if (!s.catalog.tableExists(ordT)) {
        Tables(s, d, "orders").write
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", IngestQueries.scratchDir(s"graft_bucket_ord").toString)
          .mode("overwrite").saveAsTable(ordT)
      }
      if (!s.catalog.tableExists(liT)) {
        Tables(s, d, "lineitem").write
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", IngestQueries.scratchDir(s"graft_bucket_li").toString)
          .mode("overwrite").saveAsTable(liT)
      }
    }
    (ordT, liT)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Co-located bucketed join: both sides pre-bucketed on the join key, so
    // the fact-fact join AND the join-key aggregation run without a single
    // Exchange (PlanSpec-gated). The merge hint keeps the demo honest at
    // test SFs where the optimizer would otherwise broadcast the small side.
    "q27_bucketed_join" -> ((s: SparkSession, d: String) => {
      val (ordT, liT) = bucketedTables(s, d)
      s.table(liT).hint("merge")
        .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sumDet(col("l_extendedprice"), moneyScale).as("revenue"))
    }),

    // TPC-H Q1 shape: one scan, many aggregates, pushdown-friendly filter
    "q20_pricing_summary" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP '2000-01-01 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumDet(col("l_quantity"), moneyScale).as("sum_qty"),
          sumDet(col("l_extendedprice"), moneyScale).as("sum_base_price"),
          sumDet(col("l_extendedprice") * (lit(1) - col("l_discount")), moneyScale).as("sum_disc_price"),
          sumDet(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), moneyScale)
            .as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))),

    // dim tables broadcast; fact-fact join shuffles on the key
    "q21_join_agg" -> ((s: SparkSession, d: String) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      val n = Tables(s, d, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sumDet(col("o_totalprice"), moneyScale).as("revenue"))
    }),

    "q22_window_rank" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk").cast("long").as("rnk"))
    }),

    "q23_semi_anti_join" -> ((s: SparkSession, d: String) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      val withOrders = c
        .join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with"))
      val withoutOrders = c
        .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without"))
      withOrders
        .join(withoutOrders, Seq("c_mktsegment"), "full")
        .select(
          col("c_mktsegment"),
          coalesce(col("n_with"), lit(0L)).as("n_with"),
          coalesce(col("n_without"), lit(0L)).as("n_without"))
    }),

    // gap-based sessionization (batch window-function form; streaming
    // flatMapGroupsWithState form lives in graft.streaming.Sessionize)
    "q25_sessionize" -> ((s: SparkSession, d: String) =>
      graft.streaming.Sessionize.batchSessions(
        Tables(s, d, "events")
          .withColumn("ms", expr("unix_micros(ts) DIV 1000"))
          .select(col("user_id"), col("event_id"), col("ms"), col("value")),
        gapMs = 1800000L)),

    // the same sessionization through Spark's NATIVE session_window
    // aggregation (merging-interval state, the idiomatic form).
    // Boundary semantics verified empirically: session_window MERGES two
    // events exactly gap-apart (windows [t, t+gap) and [t+gap, ...) touch
    // and merging is on overlap-or-touch), i.e. only a gap STRICTLY greater
    // than the threshold splits — the same > rule as the lag-based q25.
    "q25b_session_window" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "events")
        .select(col("user_id"), col("value"),
          timestamp_millis(expr("unix_micros(ts) DIV 1000")).as("ts"))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), sumDet(col("value")).as("sum_value"))
        .select(col("user_id"),
          expr("unix_micros(sw.start) DIV 1000").as("session_start_ms"),
          // sw.end = last event + gap; report the last EVENT time
          (expr("unix_micros(sw.end) DIV 1000") - lit(1800000L)).as("session_end_ms"),
          col("n_events"), col("sum_value"))),

    // stateful streaming sessionization (flatMapGroupsWithState); emits the
    // sessions closed during the run — oracle drops each user's open last one
    "st02_sessionize_stream" -> ((s: SparkSession, d: String) =>
      graft.streaming.Sessionize.runStreamToCompletion(s, d, gapMs = 1800000L, "st02_mem")),

    // ROLLUP grouping sets: per (priority, status), per priority, grand total
    "q26_rollup" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sumDet(col("o_totalprice"), moneyScale).as("revenue"))),

    // stream-stream INTERVAL JOIN: big purchases matched to the errors that
    // follow within an hour, both sides watermarked so join state is
    // bounded (each side retains ~watermark+interval of rows per key, GC'd
    // as the watermark advances — the shape that survives an unbounded
    // feed). Timestamps are ms-truncated on write so the result is exactly
    // the batch join the oracle computes.
    "st06_stream_stream_join" -> ((s: SparkSession, d: String) => {
      // the feed carries only the two topics the join consumes — the
      // filters would push into the scan anyway, but a smaller spool also
      // shrinks the streaming state both sides keep. Built once per
      // (session, dataset): the feed is arrival scaffolding (spoolOnce).
      val spool = IngestQueries.spoolOnce(s, d, "ss_join_events") { p =>
        Tables(s, d, "events")
          .filter(col("event_type") === "error" ||
            (col("event_type") === "purchase" && col("value") > 300))
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            timestamp_millis(expr("unix_micros(ts) DIV 1000")).as("ts"))
          .repartition(2)
          .write.mode("overwrite").parquet(p.toString)
      }
      graft.streaming.Streams.run(purchaseErrorJoin(s, spool.toString), "st06_mem", "append").frame
    }),

    // as-of/range join: last signup within 7 days before each purchase
    "q24_range_join_events" -> ((s: SparkSession, d: String) => {
      val e = Tables(s, d, "events").withColumn("ms", expr("unix_micros(ts) DIV 1000"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ms").as("p_ms"))
      val sg = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ms").as("s_ms"))
      p.join(sg, Seq("user_id"))
        .filter(col("s_ms") <= col("p_ms") && col("s_ms") > col("p_ms") - lit(7 * DAY_MS))
        .groupBy(col("purchase_id"))
        .agg(max(col("s_ms")).as("last_signup_ms"))
    }))

  /** st06's watermarked interval join, not yet run, over the feed
    * directory `dir` of (event_id, user_id, event_type, value, ts) files. */
  private[graft] def purchaseErrorJoin(s: SparkSession, dir: String): DataFrame = {
    val src = s.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP")
      .parquet(dir)
    val p = src.filter(col("event_type") === "purchase" && col("value") > 300)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val er = src.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    p.join(er,
      expr("user_id = e_user AND e_ts >= p_ts AND e_ts <= p_ts + interval 1 hour"))
      .select(col("purchase_id"), col("error_id"), col("user_id"))
  }

  val oracleSql: Map[String, String] = Map(
    "q27_bucketed_join" ->
      s"""SELECT l_orderkey, o_orderpriority, COUNT(*) AS n_items,
         |       ${sumDetSql("l_extendedprice", moneyScale)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2""".stripMargin,
    "q20_pricing_summary" ->
      s"""WITH g AS (
         |  SELECT l_returnflag, l_linestatus,
         |         ${sumDetSql("l_quantity", moneyScale)} AS sum_qty,
         |         ${sumDetSql("l_extendedprice", moneyScale)} AS sum_base_price,
         |         ${sumDetSql("l_extendedprice * (1 - l_discount)", moneyScale)} AS sum_disc_price,
         |         ${sumDetSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", moneyScale)} AS sum_charge,
         |         COUNT(*) AS count_order
         |  FROM lineitem
         |  WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
         |  GROUP BY l_returnflag, l_linestatus
         |)
         |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
         |       sum_charge, count_order,
         |       sum_qty / count_order AS avg_qty,
         |       sum_base_price / count_order AS avg_price
         |FROM g""".stripMargin,
    "q21_join_agg" ->
      s"""SELECT n_name, COUNT(*) AS n_orders, ${sumDetSql("o_totalprice", moneyScale)} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,
    "q22_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders
        |) WHERE rnk <= 2""".stripMargin,
    "q23_semi_anti_join" ->
      """SELECT c_mktsegment,
        |       COUNT(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with,
        |       COUNT(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "st02_sessionize_stream" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events
         |),
         |x AS (
         |  SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS prev_ms FROM e
         |),
         |y AS (
         |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM x
         |),
         |z AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM y
         |),
         |s AS (
         |  SELECT user_id, session_idx, MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
         |         COUNT(*) AS n_events, ${sumDetSql("value")} AS sum_value
         |  FROM z GROUP BY user_id, session_idx
         |),
         |m AS (
         |  SELECT *, MAX(session_idx) OVER (PARTITION BY user_id) AS max_idx FROM s
         |)
         |SELECT user_id, session_start_ms, session_end_ms, n_events, sum_value
         |FROM m WHERE session_idx < max_idx""".stripMargin,
    "q25b_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_ms(ts) AS ms, value FROM events
         |),
         |x AS (
         |  SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms ASC) AS prev_ms FROM e
         |),
         |y AS (
         |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM x
         |),
         |z AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms ASC
         |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM y
         |)
         |SELECT user_id, MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
         |       COUNT(*) AS n_events, ${sumDetSql("value")} AS sum_value
         |FROM z GROUP BY user_id, session_idx""".stripMargin,
    "q26_rollup" ->
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
         |       ${sumDetSql("o_totalprice", moneyScale)} AS revenue
         |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
    "q25_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events
         |),
         |x AS (
         |  SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS prev_ms FROM e
         |),
         |y AS (
         |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM x
         |),
         |z AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM y
         |)
         |SELECT user_id, MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
         |       COUNT(*) AS n_events, ${sumDetSql("value")} AS sum_value
         |FROM z GROUP BY user_id, session_idx""".stripMargin,
    "st06_stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id AS user_id
        |FROM events p JOIN events e ON p.user_id = e.user_id
        |WHERE p.event_type = 'purchase' AND p.value > 300 AND e.event_type = 'error'
        |  AND epoch_ms(e.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(e.ts) <= epoch_ms(p.ts) + 3600000""".stripMargin,
    "q24_range_join_events" ->
      s"""SELECT p.event_id AS purchase_id, MAX(epoch_ms(s.ts)) AS last_signup_ms
         |FROM events p JOIN events s ON p.user_id = s.user_id
         |WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
         |  AND epoch_ms(s.ts) <= epoch_ms(p.ts)
         |  AND epoch_ms(s.ts) > epoch_ms(p.ts) - ${7 * DAY_MS}
         |GROUP BY p.event_id""".stripMargin)
}
