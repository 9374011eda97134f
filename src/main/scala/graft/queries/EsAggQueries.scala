package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.detsum.{roundDetSql, sumDet, sumDetSql}

/** The Elasticsearch search/aggregation surface the reference plugin lives
  * inside, re-expressed declaratively: date_histogram, terms (top-N), bool
  * filters, stats, cardinality, percentiles, top_hits, composite paging.
  * Each query has a lockstep DuckDB oracle. */
object EsAggQueries {
  import Flows.{DAY_MS, HOUR_MS, JAN_START_MS}

  private val S = JAN_START_MS + 4 * DAY_MS
  private val E = JAN_START_MS + 24 * DAY_MS

  /** events with epoch-millis `ms` alongside the raw columns: the frame
    * every q10-family typed entry and its JSON-door twin aggregate, so the
    * twins share the typed oracles verbatim. */
  private[graft] def ev(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("ms", expr("unix_micros(ts) DIV 1000"))

  /** The per-basket sorted item lists both itemset levels enumerate from —
    * ONE lineitem scan + ONE basket-keyed shuffle, eagerly checkpointed so
    * every consumer (pair triangle, triple triangle, basket count) probes
    * the materialized frame. Built per consumer, q64b would pay the
    * scan+shuffle once per level, plus a full lineitem scan +
    * countDistinct shuffle for n_baskets — which is, by definition, the
    * checkpointed frame's row count (one row per distinct l_orderkey), so
    * it is derived here for free (q64b's plan: 1 parquet scan and 4
    * Exchanges instead of 5 and 10). Callers free the frame via
    * materializeAndFree once the coordinator-sized result is localized. */
  private def basketLists(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("basket"), (col("l_partkey") % 50).as("item"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .localCheckpoint(true)

  /** n_baskets = COUNT(DISTINCT l_orderkey) ≡ rows of the basket-list frame
    * (one row per group key) — identical integer, no second lineitem pass. */
  private def nBaskets(lists: DataFrame): DataFrame =
    lists.agg(count(lit(1)).cast("double").as("n_baskets"))

  /** q64's distributed shape, exposed (with its checkpointed list frame)
    * so PlanSpec gates the REAL plan — the registry entry localizes the
    * 25-row result and frees the lists (the dsirDistributed discipline).
    * Pair candidates are the i<j triangle enumerated INSIDE each basket's
    * item array. */
  private[graft] def q64Distributed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val lists = basketLists(s, d)
    val result = lists
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          y => struct(x.as("item_a"), y.as("item_b")))))).as("p"))
      .select(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 20)
      .crossJoin(broadcast(nBaskets(lists)))
      .withColumn("support_ratio", round(col("support").cast("double") / col("n_baskets"), 6))
      .drop("n_baskets")
      .orderBy(col("support").desc, col("item_a").asc, col("item_b").asc)
      .limit(25)
    (result, lists)
  }

  /** q64b's distributed shape — the level-wise Apriori step over ONE
    * checkpointed basket-list frame. The size-2 survivor table is bounded
    * by construction (items are l_partkey % 50, so ≤ C(50,2) = 1225 rows
    * at ANY scale factor) and is LOCALIZED before its three broadcast
    * left-semi prune variants, so the p2 probe+aggregate subtree runs
    * once, not once per variant. Prune semantics: all three 2-subsets
    * frequent, applied BELOW the (a,b,c) counting exchange. */
  private[graft] def q64bDistributed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val lists = basketLists(s, d)
    val p2 = Tables.localize(lists
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          y => struct(x.as("item_a"), y.as("item_b")))))).as("p"))
      .select(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("s2"))
      .filter(col("s2") >= 5)
      .select(col("item_a"), col("item_b")))
    val abc = lists
      .select(explode(flatten(transform(col("items"), (x, i) =>
        flatten(transform(slice(col("items"), i + lit(2), size(col("items"))), (y, j) =>
          transform(slice(col("items"), i + j + lit(3), size(col("items"))),
            z => struct(x.as("item_a"), y.as("item_b"), z.as("item_c")))))))).as("t"))
      .select(col("t.item_a").as("item_a"), col("t.item_b").as("item_b"),
        col("t.item_c").as("item_c"))
      .join(broadcast(p2), Seq("item_a", "item_b"), "left_semi")
      .join(
        broadcast(p2.select(col("item_a").as("item_b"), col("item_b").as("item_c"))),
        Seq("item_b", "item_c"), "left_semi")
      .join(
        broadcast(p2.select(col("item_a"), col("item_b").as("item_c"))),
        Seq("item_a", "item_c"), "left_semi")
    val result = abc.groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 5)
      .crossJoin(broadcast(nBaskets(lists)))
      .withColumn("support_ratio", round(col("support").cast("double") / col("n_baskets"), 6))
      .drop("n_baskets")
      .orderBy(col("support").desc, col("item_a").asc, col("item_b").asc, col("item_c").asc)
      .limit(25)
    (result, lists)
  }

  private def hourBucket(c: org.apache.spark.sql.Column) =
    (floor(c / lit(HOUR_MS)) * lit(HOUR_MS)).as("bucket_ms")

  /** q133's polygon, integer centi-degrees as (lon100, lat100) — a
    * rectangle over the region the user_id point derivation occupies at
    * every SF, with a V-notch cut from the top edge down to lat −84.00°
    * between lon −175.20° and −172.80° (non-convex, so the even-odd ray
    * cast is exercised, not just a bounding test). */
  private val geoPolyVertices: Seq[(Long, Long)] = Seq(
    (-17800L, -8450L), (-17000L, -8450L), (-17000L, -8150L),
    (-17280L, -8150L), (-17400L, -8400L), (-17520L, -8150L), (-17800L, -8150L))

  /** Even-odd ray cast over [[geoPolyVertices]] as ONE shared SQL string
    * (columns `plat`, `plon` integer centi-degrees): per edge, the
    * horizontal-ray crossing test in division-free cross-product form —
    * `(px−x1)·(y2−y1) < (x2−x1)·(py−y1)` with the inequality flipped when
    * the edge runs downward, all BIGINT, exact in both engines. Horizontal
    * edges fail the straddle test and contribute 0. The point is inside
    * iff the crossing count is odd. */
  private val geoPolyCrossSql: String = {
    val n = geoPolyVertices.length
    (0 until n).map { i =>
      val (x1, y1) = geoPolyVertices(i)
      val (x2, y2) = geoPolyVertices((i + 1) % n)
      val lhs = s"(plon - ($x1)) * (${y2 - y1})"
      val rhs = s"(${x2 - x1}) * (plat - ($y1))"
      s"(CASE WHEN (($y1 > plat) <> ($y2 > plat)) AND (CASE WHEN $y2 > $y1 THEN $lhs < $rhs ELSE $lhs > $rhs END) THEN 1 ELSE 0 END)"
    }.mkString(" + ")
  }

  // ---- q61 matrix_stats / q62 t_test: shared derived-stat text -----------
  // These SQL fragments are parsed by BOTH Spark (selectExpr) and DuckDB
  // (oracle), so the derived IEEE double arithmetic is identical by
  // construction; only the moment sums beneath them need the usual
  // sumDet/sumDetSql lockstep.

  /** Round-to-6 as SHARED IEEE text: `floor(x·1e6 + 0.5)/1e6`. The engines'
    * native `round(x, 6)` functions disagree on .5-boundary doubles (Spark
    * rounds the DECIMAL string half-up, DuckDB rounds the binary double —
    * observed: a q61 mean off by exactly 1e-6 at sf0.01), so the rounding
    * itself must be part of the shared expression; floor and the basic ops
    * are correctly-rounded IEEE everywhere.
    *
    * Numeric literals are spelled `1e6`, NOT `1000000.0`: Spark parses the
    * latter as DECIMAL(8,1) (and its `floor` returns LONG), so the division
    * would land as DECIMAL(30,9) while DuckDB produces DOUBLE — identical
    * values, different typed hash. `1e6` parses as DOUBLE in both engines,
    * and LONG/DOUBLE promotes to DOUBLE in Spark. */
  private def r6(e: String): String = roundDetSql(e, 6)

  private val msFields = Seq("q", "p", "dd")
  private val msLabels = Map("q" -> "quantity", "p" -> "extendedprice", "dd" -> "discount")
  private val msPairs: Seq[(String, String)] =
    for (i <- msFields.indices; j <- i until msFields.size) yield (msFields(i), msFields(j))
  private def msPairCol(a: String, b: String): String =
    if (msFields.indexOf(a) <= msFields.indexOf(b)) s"s_$a$b" else s"s_$b$a"

  /** Per-field output row of the matrix: mean/variance/skewness/kurtosis +
    * covariance and correlation against every field (self-covariance is the
    * sample variance, self-correlation literal 1). */
  private def matrixStatsSelect(i: String): Seq[String] = {
    def mean(f: String) = s"(s_$f / n)"
    def varp(f: String) = s"((s_$f$f - ${mean(f)} * s_$f) / n)"
    def vars(f: String) = s"((s_$f$f - ${mean(f)} * s_$f) / (n - 1.0))"
    def cov(a: String, b: String) =
      if (a == b) vars(a) else s"((${msPairCol(a, b)} - ${mean(a)} * s_$b) / (n - 1.0))"
    val m = mean(i)
    val skewNum = s"((s_$i$i$i - 3.0 * $m * s_$i$i + 2.0 * $m * $m * s_$i) / n)"
    val kurtNum =
      s"((s_$i$i$i$i - 4.0 * $m * s_$i$i$i + 6.0 * $m * $m * s_$i$i - 3.0 * $m * $m * $m * s_$i) / n)"
    Seq(
      s"'${msLabels(i)}' AS field",
      "cnt AS doc_count",
      s"${r6(m)} AS mean",
      s"${r6(vars(i))} AS variance",
      s"${r6(s"$skewNum / (${varp(i)} * sqrt(${varp(i)}))")} AS skewness",
      s"${r6(s"$kurtNum / (${varp(i)} * ${varp(i)})")} AS kurtosis") ++
      msFields.map(j => s"${r6(cov(i, j))} AS cov_${msLabels(j)}") ++
      msFields.map { j =>
        if (i == j) s"CAST(1.0 AS DOUBLE) AS corr_${msLabels(j)}"
        else s"${r6(s"${cov(i, j)} / sqrt(${vars(i)} * ${vars(j)})")} AS corr_${msLabels(j)}"
      }
  }

  /** Welch t-test derived row from the two groups' (count, sum, sumsq). */
  private val tTestSelect: Seq[String] = {
    def m(k: Int) = s"(s$k / CAST(cnt$k AS DOUBLE))"
    def vars(k: Int) = s"((s$k$k - ${m(k)} * s$k) / (CAST(cnt$k AS DOUBLE) - 1.0))"
    Seq(
      "cnt1 AS n_purchase",
      "cnt2 AS n_error",
      s"${r6(m(1))} AS mean_purchase",
      s"${r6(m(2))} AS mean_error",
      s"${r6(s"(${m(1)} - ${m(2)}) / sqrt(${vars(1)} / CAST(cnt1 AS DOUBLE) + ${vars(2)} / CAST(cnt2 AS DOUBLE))")} AS t_stat")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_date_histogram" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))),

    "q11_terms_topn" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .orderBy(col("doc_count").desc, col("event_type").asc)
        .limit(10)),

    // ES rare_terms: the long-tail complement of terms — buckets whose
    // doc_count is at or below max_doc_count. Same partial-agg shape as
    // terms; the filter runs on the final aggregate.
    "q11e_rare_terms" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("doc_count"))
        .filter(col("doc_count") <= 55)),

    // ES multi_terms: compound bucket key, top-N by count with full tiebreak
    "q11f_multi_terms" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .orderBy(col("doc_count").desc, col("event_type").asc, col("user_bucket").asc)
        .limit(10)),

    // ES terms `order`: {"_key": "asc"} + `keyed` response parity: rank
    // makes the bucket order data-visible, key_str is the keyed-form object
    // key (the term itself for a terms agg). Window is bounded by the terms
    // cardinality after aggregation.
    "q11d_terms_ordered_keyed" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .withColumn("order_rank",
          row_number().over(Window.orderBy(col("event_type").asc)).cast("long"))
        .withColumn("key_str", col("event_type"))),

    "q12_filtered_agg" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .filter(col("event_type").isin("purchase", "error") && col("value") > 50.0 &&
          col("ms") >= S && col("ms") < E)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))),

    // ES `filters` agg: several named predicates evaluated in ONE scan
    "q12b_filters_named" -> ((s: SparkSession, d: String) =>
      ev(s, d).agg(
        count(when(col("event_type") === "purchase" && col("value") > 100.0, 1)).as("big_purchases"),
        count(when(col("event_type") === "error", 1)).as("errors"),
        count(when(col("value") <= 10.0, 1)).as("small_values"),
        count(lit(1)).as("total"))),

    // ES numeric `histogram` agg (interval 25 on value)
    "q10b_numeric_histogram" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy((floor(col("value") / lit(25.0)) * 25).cast("long").as("value_bucket"))
        .agg(count(lit(1)).as("doc_count"))),

    // ES date_histogram with bucket `order` by an AGGREGATION PATH
    // ({"sum_value": "desc"} — InternalOrder agg paths,
    // ProportionalSumAggregationBuilder.java:133-134, compound reduce
    // :333): buckets ranked by the sub-agg's value desc with bucket_ms
    // asc as the total tiebreak, rank data-visible (q11h's terms-parent
    // analog one level over). The door's q174 compiles to this frame.
    "q10f_histogram_order_agg" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .withColumn("order_rank",
          row_number().over(
            Window.orderBy(col("sum_value").desc, col("bucket_ms").asc)).cast("long"))
    }),

    // ES `range` agg: explicit bucket edges [0,50), [50,200), [200,inf);
    // like ES, a doc missing the field falls in no range
    "q10c_range_agg" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .filter(col("value").isNotNull)
        .withColumn(
          "range_key",
          when(col("value") < 50.0, "lo").when(col("value") < 200.0, "mid").otherwise("hi"))
        .groupBy(col("range_key"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))),

    // ES significant_terms: foreground (errors) vs background term ratios
    "q11b_significant_terms" -> ((s: SparkSession, d: String) => {
      val all = ev(s, d)
      val bg = all.groupBy(col("user_id")).agg(count(lit(1)).as("bg_count"))
      val fg = all.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("fg_count"))
      val totals = all.agg(
        count(lit(1)).as("bg_total"),
        count(when(col("event_type") === "error", 1)).as("fg_total"))
      fg.join(bg, Seq("user_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score", round((col("fg_count") / col("fg_total")) / (col("bg_count") / col("bg_total")), 6))
        .select(col("user_id"), col("fg_count"), col("bg_count"), col("score"))
        .orderBy(col("score").desc, col("user_id").asc)
        .limit(10)
    }),

    // ES bucket_selector pipeline agg: HAVING over bucket metrics
    "q17b_bucket_selector" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .filter(col("doc_count") >= 60 && col("sum_value") > 10000.0)),

    // ES auto_date_histogram: pick the smallest interval from a fixed ladder
    // that keeps the bucket count under the target, then bucket at it. The
    // chosen interval is a broadcast one-row scalar (min/max scan), so the
    // two passes stay shuffle-free; the interval is emitted so callers (and
    // the oracle) see which rung was chosen.
    "q10e_auto_date_histogram" -> ((s: SparkSession, d: String) => {
      val ladder = Seq(60000L, 300000L, 600000L, 1800000L, 3600000L,
        10800000L, 43200000L, 86400000L, 604800000L)
      val target = 50
      val chosen = ev(s, d)
        .agg(min(col("ms")).as("mn"), max(col("ms")).as("mx"))
        .select(coalesce(
          ladder.map(l =>
            when(floor(col("mx") / lit(l)) - floor(col("mn") / lit(l)) + 1 <= target, lit(l)))
            :+ lit(ladder.last): _*).as("itv"))
      ev(s, d)
        .crossJoin(broadcast(chosen))
        .groupBy(
          col("itv").cast("long").as("interval_ms"),
          (floor(col("ms") / col("itv")) * col("itv")).cast("long").as("bucket_ms"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
    }),

    // ES bucket_script pipeline agg: a per-bucket metric computed from two
    // sub-aggregation paths (share of value carried by high-value events)
    "q17c_bucket_script" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          sumDet(when(col("value") > 50.0, col("value")).otherwise(0.0)).as("sum_hi"),
          sumDet(col("value")).as("sum_all"))
        .withColumn("hi_share", round(col("sum_hi") / col("sum_all"), 6))),

    // ES stats_bucket sibling pipeline agg: stats OVER the buckets of a
    // date_histogram (one output row describing the series itself)
    "q17d_stats_bucket" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(count(lit(1)).as("doc_count"))
        .agg(
          count(lit(1)).as("n_buckets"),
          min(col("doc_count")).as("min_count"),
          max(col("doc_count")).as("max_count"),
          sum(col("doc_count")).as("sum_count"))
        .withColumn("avg_count", round(col("sum_count") / col("n_buckets"), 6))),

    // ES `missing` agg: bucket of docs whose field is absent. The optional
    // field is derived identically in both engines (k only counts when
    // >= 50), so null-bucket semantics are genuinely exercised.
    "q12d_missing" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("big", when(col("k") >= 50, col("k")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("doc_count"),
          count(col("big")).as("n_present"),
          (count(lit(1)) - count(col("big"))).as("n_missing"))),

    // ES `exists` QUERY as named surface (the query form whose inverse is
    // q12d's missing AGG — same derived optional field `big`, so the two
    // sides of the null boundary share one definition): docs where the
    // field exists, returned as the endpoint's hit page (top-20 by field
    // value desc, id asc). Filter-context shape: one IS NOT NULL
    // projection, pushed to the scan.
    "q117_exists" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("big", when(col("k") >= 50, col("k")))
        .filter(col("big").isNotNull)
        .select(col("event_id"), col("event_type"), col("big").cast("long").as("big"))
        .orderBy(col("big").desc, col("event_id").asc)
        .limit(20)),

    // ES weighted_avg: value weighted by k (from props JSON)
    "q13b_weighted_avg" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("wt", get_json_object(col("props"), "$.k").cast("int").cast("double"))
        .groupBy(col("event_type"))
        .agg(
          sumDet(col("value") * col("wt"), 4).as("sum_wx"),
          sumDet(col("wt")).as("sum_w"))
        .withColumn("weighted_avg", round(col("sum_wx") / col("sum_w"), 6))),

    // ES date_range agg: explicit date edges
    "q10d_date_range" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn(
          "period",
          when(col("ms") < S, "before").when(col("ms") < E, "during").otherwise("after"))
        .groupBy(col("period"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))),

    // ES adjacency_matrix: pairwise intersections of named filters in one scan
    "q12c_adjacency_matrix" -> ((s: SparkSession, d: String) => {
      val a = col("event_type") === "purchase"
      val b = col("value") > 100.0
      val c = col("user_id") % 2 === 0
      ev(s, d).agg(
        count(when(a, 1)).as("purchase"),
        count(when(b, 1)).as("big"),
        count(when(c, 1)).as("even_user"),
        count(when(a && b, 1)).as("purchase_and_big"),
        count(when(a && c, 1)).as("purchase_and_even"),
        count(when(b && c, 1)).as("big_and_even"))
    }),

    // ES terms over a high-cardinality field at scale: Space-Saving heavy
    // hitters with bounded state per group. Sketch capacity (8k) exceeds the
    // per-group cardinality at oracle scale, so counts are exact and the
    // top-5 hash-matches DuckDB; the truncation/merge regime is spec-checked
    // separately. Output flattened to one row per (group, rank) so it is
    // sortable and joinable downstream.
    "q11c_terms_sketch" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(expr("topk_freq(CAST(user_id AS STRING), 200)").as("top_users"))
        .select(col("event_type"), posexplode(col("top_users")).as(Seq("pos", "tu")))
        .select(
          col("event_type"),
          (col("pos") + 1).cast("long").as("rank"),
          col("tu.item").as("item"),
          col("tu.cnt").as("cnt"))
        .filter(col("rank") <= 5)),

    "q13_stats" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sumDet(col("value")).as("sum_value"))
        .withColumn("avg_value", col("sum_value") / col("cnt"))),

    "q14_cardinality" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    // ES `cardinality` is HLL-approximate. Our own deterministic
    // HLL (graft.operators.Hll — md5 hash, exact integer register sums,
    // detlog linear-counting branch) instead of Spark's opaque
    // approx_count_distinct, so DuckDB replays the sketch bit-for-bit and
    // the query is oracle-backed like q15b.
    "q14b_cardinality_hll" -> ((s: SparkSession, d: String) =>
      graft.operators.Hll.cardinality(
        ev(s, d), Seq(col("event_type")), col("user_id"), "n_users_approx")),

    "q15_percentiles" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))),

    // ES median_absolute_deviation: median of |x - median(x)| per group.
    // The per-group median is a small broadcast (one row per term), so the
    // second pass is scan + broadcast join, no extra shuffle of the values.
    "q15c_median_abs_dev" -> ((s: SparkSession, d: String) => {
      val med = ev(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      ev(s, d).join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          round(first(col("med")), 6).as("med"),
          round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
    }),

    // ES percentile_ranks: the inverse of percentiles — what share of values
    // sits at or below each threshold. Count-ratio arithmetic (long/long)
    // so the doubles are order-free.
    "q15d_percentile_ranks" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("value") <= 50.0, 1)).as("n50"),
          count(when(col("value") <= 90.0, 1)).as("n90"))
        .select(
          col("event_type"),
          round(col("n50") / col("n") * 100, 6).as("pr50"),
          round(col("n90") / col("n") * 100, 6).as("pr90"))),

    // ES extended_stats: variance/std derived from exact decimal sums so the
    // result is order-independent (Spark's var_samp would not hash-match)
    "q19_extended_stats" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sumDet(col("value")).as("sum_value"),
          sumDet(col("value") * col("value"), 4).as("sum_sq"))
        .withColumn("mean", col("sum_value") / col("cnt"))
        .withColumn("variance", round(col("sum_sq") / col("cnt") - col("mean") * col("mean"), 6))),

    // scale path for percentiles: mergeable histogram sketch (bounded state
    // per group) instead of buffering all values — rows-only, accuracy
    // bounded by bin width and spec-checked against the exact form
    "q15b_percentiles_sketch" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("hist_quantile(value, 0.5, 0.0, 1000.0, 1000)").as("p50_sketch"),
          expr("hist_quantile(value, 0.95, 0.0, 1000.0, 1000)").as("p95_sketch"))),

    "q16_top_hits" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id").asc)
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rn").cast("long").as("rn"))
    }),

    "q17_composite_paging" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .filter(col("event_type") > "purchase" ||
          (col("event_type") === "purchase" && col("user_id") > 10))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .orderBy(col("event_type").asc, col("user_id").asc)
        .limit(50)),

    // ES composite agg cursor paging (`after`): page 1 is the first `size`
    // buckets in composite key order; the client echoes the LAST bucket key
    // back as `after`, and the next request resumes STRICTLY after it —
    // the resumable-cursor contract a real exporter uses to walk 10M
    // buckets. The after_key is one bucket key crossing the driver
    // (coordinator-sized by definition), and page 2's keyset predicate
    // lands on the RAW columns, so it reaches the parquet scan as a pushed
    // filter (PlanSpec-gated) — a resumed export prunes pages it already
    // served instead of re-aggregating them.
    "q17g_composite_after" -> ((s: SparkSession, d: String) => {
      def buckets(df: DataFrame) = df
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .orderBy(col("event_type").asc, col("user_id").asc)
        .limit(50)
      val page1 = Tables.localize(buckets(ev(s, d)))
      // empty input ⇒ no buckets, no cursor, no page 2 (the oracle's CTEs
      // evaluate to empty rowsets — the engines must agree, not one throw)
      val page2 = page1.orderBy(col("event_type").desc, col("user_id").desc)
        .limit(1).collect().headOption match {
        case Some(after) =>
          val (a1, a2) = (after.getAs[String]("event_type"), after.getAs[Long]("user_id"))
          buckets(ev(s, d).filter(
            col("event_type") > a1 || (col("event_type") === a1 && col("user_id") > a2)))
        case None => page1.limit(0)
      }
      page1.withColumn("page", lit(1L)).unionByName(page2.withColumn("page", lit(2L)))
    }),

    // ES sibling pipeline aggs avg_bucket/sum_bucket/min_bucket/max_bucket in
    // one pass over the histogram's buckets; min/max also report WHICH bucket
    // (the keys ES returns), via min_by/max_by with a total ordering so ties
    // resolve to the earliest bucket deterministically.
    "q17e_sibling_bucket_metrics" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(sumDet(col("value")).as("v"))
        .agg(
          count(lit(1)).as("n_buckets"),
          min(col("v")).as("min_bucket"),
          max(col("v")).as("max_bucket"),
          sumDet(col("v"), 6).as("sum_bucket"),
          min_by(col("bucket_ms"), struct(col("v"), col("bucket_ms"))).as("min_key"),
          max_by(col("bucket_ms"), struct(col("v"), (-col("bucket_ms")).as("neg"))).as("max_key"))
        .withColumn("avg_bucket", round(col("sum_bucket") / col("n_buckets"), 6))),

    // ES bucket_sort pipeline agg: order the histogram's buckets by a metric
    // and page into them (from=2, size=10). The unpartitioned window is safe:
    // it runs AFTER aggregation, over at most (end-start)/interval buckets.
    "q17f_bucket_sort" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("sum_value").desc, col("bucket_ms").asc)).cast("long"))
        .filter(col("rank") > 2 && col("rank") <= 12)),

    // ES cumulative_cardinality pipeline agg: distinct users seen up to each
    // daily bucket. Scalable form: per-user first-seen day (one shuffle on
    // user), counts of first-appearances per day, then a prefix sum over the
    // bounded bucket series — never a per-bucket distinct scan.
    "q09b_cumulative_cardinality" -> ((s: SparkSession, d: String) => {
      val e = ev(s, d)
        .withColumn("day_ms", (floor(col("ms") / lit(DAY_MS)) * lit(DAY_MS)).cast("long"))
      val days = e.groupBy(col("day_ms")).agg(count(lit(1)).as("doc_count"))
      val firstSeen = e.groupBy(col("user_id")).agg(min(col("day_ms")).as("first_day"))
        .groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day_ms")).rowsBetween(Window.unboundedPreceding, 0)
      days.join(firstSeen, days("day_ms") === firstSeen("first_day"), "left")
        .select(col("day_ms"), col("doc_count"), coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
    }),

    // ES diversified_sampler: cap the sample at max_docs_per_value per key
    // (3 per user), selection by a deterministic content hash so both
    // engines draw the identical sample; downstream agg runs on the sample.
    // ES matrix_stats: the full moment/covariance/correlation matrix over
    // three numeric fields in ONE scan (count + 15 detsum moments), reshaped
    // to one row per field like the ES response's per-field objects. The
    // derived-stat formulas are SHARED TEXT (matrixStatsSelect) parsed by
    // both Spark selectExpr and DuckDB, so the IEEE double sequence is
    // identical by construction — the q17h recipe taken to its conclusion.
    // Fields are pre-normalized by fixed constants (quantity/100,
    // extendedprice/1e5): skewness/kurtosis/correlation are scale-invariant,
    // and O(1) per-row magnitudes keep every scaled moment term far inside
    // detsum's BIGINT fast-path domain (|term|·1e10 < 9.2e18 — see
    // functions/detsum) at any corpus size.
    "q61_matrix_stats" -> ((s: SparkSession, d: String) => {
      // scan-spreading repartition (the Flows.df discipline): locally the
      // table is ONE parquet split, which would run the 16-moment compute —
      // the dominant cost here — on a single thread (A/B: 2.4s -> 1.0s).
      // The narrow 4-column shuffle is cheap and the partial aggregate
      // still collapses map-side to one row per partition.
      val li = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .repartition(col("l_orderkey"))
        .select(
          (col("l_quantity") / 100.0).as("q"),
          (col("l_extendedprice") / 100000.0).as("p"),
          col("l_discount").as("dd"))
      val moments = msFields.flatMap { f =>
        Seq(sumDet(col(f)).as(s"s_$f")) ++
          msPairs.collect { case (a, b) if a == f => sumDet(col(a) * col(b)).as(s"s_$a$b") } ++
          Seq(
            sumDet(col(f) * col(f) * col(f)).as(s"s_$f$f$f"),
            sumDet(col(f) * col(f) * col(f) * col(f)).as(s"s_$f$f$f$f"))
      }
      val g = li.agg(count(lit(1)).as("cnt"), moments: _*)
        .withColumn("n", col("cnt").cast("double"))
      // the aggregate is ONE row — materialize it on the driver (the ES
      // coordinator-reduce analog) so the three per-field output rows are
      // projections of a LocalRelation, not three re-runs of the scan
      val gLocal = Tables.localize(g)
      msFields.map(f => gLocal.selectExpr(matrixStatsSelect(f): _*)).reduce(_.unionAll(_))
    }),

    // ES t_test (unpaired, heteroscedastic — Welch): one scan computing both
    // groups' detsum moments, shared-text derived statistic (tTestSelect).
    "q62_t_test" -> ((s: SparkSession, d: String) =>
      ev(s, d).agg(
        count(when(col("event_type") === "purchase", 1)).as("cnt1"),
        count(when(col("event_type") === "error", 1)).as("cnt2"),
        sumDet(when(col("event_type") === "purchase", col("value"))).as("s1"),
        sumDet(when(col("event_type") === "error", col("value"))).as("s2"),
        sumDet(when(col("event_type") === "purchase", col("value") * col("value"))).as("s11"),
        sumDet(when(col("event_type") === "error", col("value") * col("value"))).as("s22"))
        .selectExpr(tTestSelect: _*)),

    // ES scripted_metric: init/map/combine/reduce closures over the group's
    // docs (graft.plans.ScriptedMetric, program registered by name like an
    // ES stored script). The demo program needs the whole per-group sorted
    // series — inexpressible as any built-in metric agg — yet still runs as
    // a standard partial-agg: map collects where the data lives, serialized
    // state crosses the shuffle, reduce runs once per group.
    "q60_scripted_metric" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("doc_count"),
          call_function("scripted_metric", lit("max_gap_ms"), col("ms")).as("max_gap_ms"))),

    "q49b_diversified_sampler" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(md5(col("event_id").cast("string").cast("binary")).asc, col("event_id").asc)
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sample_count"), sumDet(col("value")).as("sample_sum"))
    }),

    // ES plain `sampler` agg: sub-aggs run over only the top-`shard_size`
    // hits by score (here the deterministic value/event_id ordering stands
    // in for _score). Global top-200 via a single ordered limit, then the
    // downstream agg — the agg's cost-bounding contract.
    "q49c_sampler" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(200)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sample_count"), sumDet(col("value")).as("sample_sum"))),

    // ES `global` agg: sibling aggregations that ESCAPE the query filter —
    // the "this bucket vs the whole index" comparison. ONE scan computes
    // both scopes via conditional aggregation (a second scan is exactly
    // what the ES agg exists to avoid on the coordinator side).
    "q74_global_agg" -> ((s: SparkSession, d: String) => {
      val filt = col("event_type") === "purchase" && col("value") > 50.0
      ev(s, d).agg(
        count(when(filt, 1)).as("hit_count"),
        sumDet(when(filt, col("value")).otherwise(lit(null))).as("hit_sum"),
        count(lit(1)).as("global_count"),
        sumDet(col("value")).as("global_sum"))
    }),

    // ES geo family, grid form (`geotile_grid`/`geohash_grid` shape): events
    // carry derived deterministic coordinates (exact 2-decimal values from
    // integer arithmetic, identical in both engines); buckets are 5°×5°
    // grid cells. Plain floor arithmetic — no transcendental functions, so
    // the oracle matches bit-for-bit (web-mercator tile Y needs ln/tan,
    // which is NOT cross-engine reproducible; the grid semantics are the
    // same).
    "q19b_geo_grid" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .groupBy(
          floor(col("lat") / 5).cast("long").as("cell_lat"),
          floor(col("lon") / 5).cast("long").as("cell_lon"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))),

    // ES `geohash_grid` with the REAL geohash cell id: interleaved-bisection
    // base32 encoding ([[graft.functions.geohash]]) — every midpoint and
    // comparison is a correctly-rounded IEEE basic op run in the identical
    // sequence by both engines, so the 3-char cells hash-match exactly
    // (q19b keeps the coarse floor-grid variant; this is the ES-faithful
    // one). Top 20 cells by doc_count, the agg's size-limited contract.
    "q19g_geohash_grid" -> ((s: SparkSession, d: String) => {
      val pts = ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
      graft.functions.geohash.withGeohash(pts, "lat", "lon", "gh", 3)
        .groupBy(col("gh"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
        .orderBy(col("doc_count").desc, col("gh").asc)
        .limit(20)
    }),

    // ES `geo_distance` agg: ring buckets around an origin. Planar distance
    // on the derived coordinates (sqrt is correctly-rounded IEEE in both
    // engines; haversine's sin/cos are not cross-engine reproducible).
    // ES `geo_bounding_box` QUERY form (the q19 family covers the geo
    // AGGS; this is the filter-context hits surface Kibana map panes
    // issue): events whose derived point falls in the box [-85,-82]×
    // [-180,-172] (inside the region the derivation occupies at EVERY SF
    // — the user_id range grows with SF, so a fixed equator box would be
    // vacuously empty at sf0.001), paged top-20 by event_id with
    // hits.total riding along
    // (the q115 1-row-broadcast shape). The box predicate is a pure scan
    // filter — pushdown-eligible, no joins, the page sort limit-pushed.
    "q128_geo_bounding_box" -> ((s: SparkSession, d: String) => {
      val hits = ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .filter(col("lat") >= -85.0 && col("lat") <= -82.0 &&
          col("lon") >= -180.0 && col("lon") <= -172.0)
      hits.orderBy(col("event_id").asc).limit(20)
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("total"))))
        .select(col("event_id"), col("lat"), col("lon"), col("total"))
    }),

    // ES `geo_distance` QUERY form next to q19c's ring AGG: filter
    // context — events within distance 3 of (-83, -175) (q128's
    // occupied-region rationale) under the family's planar-on-degrees
    // convention (the q19c distance shape),
    // paged top-20 by event_id + hits.total (the q128 shape).
    "q129_geo_distance_query" -> ((s: SparkSession, d: String) => {
      val dist = sqrt(
        (col("lat") + lit(83.0)) * (col("lat") + lit(83.0)) +
          (col("lon") + lit(175.0)) * (col("lon") + lit(175.0)))
      val hits = ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .withColumn("dist", dist)
        .filter(col("dist") < 3.0)
      hits.orderBy(col("event_id").asc).limit(20)
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("total"))))
        .select(col("event_id"), col("lat"), col("lon"), col("dist"), col("total"))
    }),

    // ES `geo_shape` QUERY (polygon containment) — the bread-and-butter
    // shape form next to q128's box and q129's ring: events whose derived
    // point falls inside a fixed NON-CONVEX polygon (a notched rectangle —
    // the notch makes even-odd parity matter; a convex hull test would
    // pass vacuously). Coordinates stay INTEGER centi-degrees (the q19e
    // convention) and the ray cast is division-free — each edge's
    // crossing test is the cross-product form over BIGINTs (|x|,|y| ≤
    // 36000 ⇒ products ≤ ~1.3e9, exact) — so both engines compare the
    // identical integers; no float enters the predicate. The crossing-sum
    // expression is ONE shared SQL string ([[geoPolyCrossSql]]) rendered
    // into both engines. Plan shape: a pure scan filter (pushdown-
    // eligible projection + filter, no joins), paged top-20 by event_id
    // with hits.total riding along (the q128 page shape). The polygon
    // sits in the region the derivation occupies at EVERY SF (probed:
    // 5 hit users, ~330 hit events, misses everywhere, at all three SFs).
    "q133_geo_shape_polygon" -> ((s: SparkSession, d: String) => {
      val hits = ev(s, d)
        .withColumn("plat", (col("user_id") * 37) % 17000 - 8500)
        .withColumn("plon", (col("user_id") * 91) % 36000 - 18000)
        .filter(expr(s"(($geoPolyCrossSql) % 2) = 1"))
      hits.orderBy(col("event_id").asc).limit(20)
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("total"))))
        .select(col("event_id"), col("plat"), col("plon"), col("total"))
    }),
    "q19c_geo_distance" -> ((s: SparkSession, d: String) => {
      val dist = sqrt(
        (col("lat") - lit(10.0)) * (col("lat") - lit(10.0)) +
          (col("lon") - lit(20.0)) * (col("lon") - lit(20.0)))
      ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .withColumn("ring",
          when(dist < 30.0, "near").when(dist < 90.0, "mid").otherwise("far"))
        .groupBy(col("ring"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("value")).as("sum_value"))
    }),

    // ES `geo_centroid`: per-bucket centroid of the points — plain
    // detsum-mean of lat/lon per event_type (the ES metric is exactly the
    // arithmetic mean of the coordinates).
    "q19d_geo_centroid" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("doc_count"), sumDet(col("lat")).as("slat"), sumDet(col("lon")).as("slon"))
        .select(
          col("event_type"), col("doc_count"),
          round(col("slat") / col("doc_count").cast("double"), 6).as("centroid_lat"),
          round(col("slon") / col("doc_count").cast("double"), 6).as("centroid_lon"))),

    // ES `geo_line`: per group, the track — points joined in event-time
    // order, capped at `size` points like the ES agg (first-N by sort key,
    // deterministic tiebreak on event_id). Coordinates stay integer
    // centi-degrees so the string form is engine-independent (double
    // formatting is not); output is one WKT-ish string per group so the
    // hash compare is exact.
    "q19e_geo_line" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
      ev(s, d)
        .filter(col("user_id") % 97 === 0) // a handful of tracked entities
        .withColumn("lat100", (col("event_id") * 37) % 17000 - 8500)
        .withColumn("lon100", (col("event_id") * 91) % 36000 - 18000)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .withColumn("pt", concat(col("lon100").cast("string"), lit(" "), col("lat100").cast("string")))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_points"),
          concat_ws(";", array_sort(collect_list(struct(col("rn"), col("pt"))))
            .getField("pt")).as("line"))
    }),

    // ES `geo_bounds`: the tight bounding envelope of each bucket's points
    // (plain min/max — exact, no float summation involved).
    "q19f_geo_bounds" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("lat", ((col("user_id") * 37) % 17000) / lit(100.0) - 85.0)
        .withColumn("lon", ((col("user_id") * 91) % 36000) / lit(100.0) - 180.0)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("doc_count"),
          max(col("lat")).as("top"), min(col("lat")).as("bottom"),
          min(col("lon")).as("left"), max(col("lon")).as("right"))),

    // ES `categorize_text`: template-cluster semi-structured text by masking
    // the variable parts (numbers) and counting the surviving patterns —
    // the deterministic core of ES's log categorizer (its token-weight
    // refinements vary by version; the mask-and-group semantics are the
    // stable contract). Top templates by doc_count.
    "q11i_categorize_text" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "documents")
        .withColumn("template",
          regexp_replace(graft.functions.text.norm(col("text")), "[0-9]+", "#"))
        .groupBy(col("template"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(col("doc_count").desc, col("template").asc)
        .limit(20)),

    // ES `frequent_item_sets` (size-2 itemsets): co-occurring item pairs
    // over order baskets with a minimum support, the Apriori join — pair
    // candidates are generated INSIDE each basket (self-join on the basket
    // key, i<j triangle), so the shuffle is basket-keyed and nothing is
    // all-pairs across baskets.
    "q64_frequent_item_sets" -> ((s: SparkSession, d: String) => {
      val (result, lists) = q64Distributed(s, d)
      Tables.materializeAndFree(result, lists)
    }),

    // ES `frequent_item_sets` at size k=3 — the level-wise Apriori step
    // above q64's pairs: candidate triples are generated INSIDE each
    // basket (the i<j<k triangle of the basket's items, never
    // cross-basket, so the shuffles stay basket-keyed and the per-basket
    // work is C(items,3) ≤ C(7,3) on this schema), and pruned by the
    // Apriori property BEFORE counting: all three 2-subsets must be
    // frequent, with the size-2 survivor table — at most C(50,2) rows —
    // BROADCAST as left-semi filters below the count. The prune is
    // correctness-neutral (any triple with support ≥ T has every pair at
    // ≥ T), so the oracle's identical EXISTS prune is a symmetry, not a
    // semantic; what the prune buys at scale is the classic Apriori
    // k-level cost model: candidates that cannot reach the threshold
    // never enter the (item_a,item_b,item_c) aggregation shuffle.
    // Threshold 5 at both levels is non-vacuous at every SF (probed:
    // 13 qualifying triples at sf0.001, max support 6).
    "q64b_frequent_item_sets_k3" -> ((s: SparkSession, d: String) => {
      val (result, lists) = q64bDistributed(s, d)
      Tables.materializeAndFree(result, lists)
    }),

    // ES `change_point` pipeline agg (simplified to its stable contract —
    // the ES implementation's test menagerie varies by version): the step
    // change in the bucket series is the split maximizing |mean(after) −
    // mean(before)|. Prefix sums run as EXACT decimals over the
    // coordinator-sized series (the q09 cumulative recipe) so both engines
    // walk identical doubles into the argmax.
    "q17j_change_point" -> ((s: SparkSession, d: String) => {
      val b = ev(s, d).groupBy(hourBucket(col("ms"))).agg(sumDet(col("value")).as("v"))
      val scaled = round(col("v") * lit(1e6)).cast(DecimalType(27, 0))
      val wOrd = Window.orderBy(col("bucket_ms"))
      val pre = b
        .withColumn("pre_s", sum(scaled).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("pre_n", row_number().over(wOrd))
        .crossJoin(broadcast(b.agg(sum(scaled).as("tot_s"), count(lit(1)).as("tot_n"))))
        .filter(col("pre_n") < col("tot_n"))
        .withColumn("before_mean", (col("pre_s").cast("double") / lit(1e6)) / col("pre_n").cast("double"))
        .withColumn("after_mean",
          ((col("tot_s") - col("pre_s")).cast("double") / lit(1e6)) /
            (col("tot_n") - col("pre_n")).cast("double"))
        .withColumn("delta", col("after_mean") - col("before_mean"))
      // r6's floor form, not native round: the output means are exactly the
      // value shape whose .5-boundary rounding diverges between engines
      def fl6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      pre.orderBy(abs(col("delta")).desc, col("bucket_ms").asc).limit(1)
        .select(
          col("bucket_ms").as("change_at_ms"),
          fl6(col("before_mean")).as("before_mean"),
          fl6(col("after_mean")).as("after_mean"),
          fl6(col("delta")).as("delta"))
    }),

    // ES `bucket_correlation` pipeline agg: Pearson correlation between two
    // per-bucket count series (purchases vs errors per hour). All sums are
    // exact integers; the final r is a fixed sequence of double ops, so the
    // oracle matches bit-for-bit at round-6.
    "q17h_bucket_correlation" -> ((s: SparkSession, d: String) => {
      val b = ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("x"),
          count(when(col("event_type") === "error", 1)).as("y"))
      b.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
        .withColumn("r", round(
          // every n*s·· / s·*s· product has one factor cast to double BEFORE
          // the multiply: long×long of two ~1e10 factors would wrap silently
          // in Spark (non-ANSI) where DuckDB raises — the mirrored SQL casts
          // in the same positions so both engines run the identical IEEE
          // double sequence
          (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
            sqrt((col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")) *
              (col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))), 6))
    }),

    // ES `percentiles_bucket` sibling pipeline agg: percentiles OVER the
    // histogram's per-bucket sums (one output row describing the series)
    "q17i_percentiles_bucket" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(sumDet(col("value")).as("v"))
        .agg(
          round(expr("percentile(v, 0.25)"), 6).as("p25"),
          round(expr("percentile(v, 0.5)"), 6).as("p50"),
          round(expr("percentile(v, 0.99)"), 6).as("p99"))),

    // ES `nested` + `reverse_nested` aggs: aggregate over the ELEMENTS of a
    // per-doc array-of-objects field, then jump back to parent-doc counts.
    // The items array derives deterministically from event fields (the geo
    // queries' convention — both engines build the identical array), the
    // nested tree is explode → terms(sku) → sum(qty), and reverse_nested is
    // the distinct-parent count per bucket. One exchange: partial aggs
    // combine per sku before the shuffle.
    "q72_nested_agg" -> ((s: SparkSession, d: String) => {
      // sku period 3 < max items-per-doc 5 (sequence(0, event_id % 5) has
      // (event_id % 5) + 1 ≤ 5 elements), so parents DO repeat skus —
      // item_count > parent_doc_count for real rows, which is the whole
      // reverse_nested distinction (a %7 period made the two counts
      // provably equal and the semantics vacuously tested).
      // Spread (Tables.spread) BEFORE the JSON parse + 5× explode, or the
      // whole nested-doc fan-out runs on one core (measured 27s → 9.2s at
      // 10×-sf0.1; the remainder is the unavoidably serial single-split
      // scan). Two exchanges by design: the narrow-row spread, then the
      // (sku, parent) aggregation.
      val items = Tables.spread(ev(s, d), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("items", expr(
          """transform(sequence(0, CAST(event_id % 5 AS INT)),
            |  i -> struct(concat('sku', CAST((k + i) % 3 AS STRING)) AS sku,
            |              (event_id + i) % 3 + 1 AS qty))""".stripMargin))
        .select(col("event_id"), explode(col("items")).as("it"))
      // two-level aggregate instead of countDistinct: a single-pass
      // distinct agg plans through Expand (3× the exploded rows); keying
      // the first level by (sku, parent) pre-combines map-side and the
      // second level counts groups — same result, no row multiplication
      items
        .groupBy(col("it.sku").as("sku"), col("event_id"))
        .agg(count(lit(1)).as("c"), sum(col("it.qty")).as("q"))
        .groupBy(col("sku"))
        .agg(
          sum(col("c")).as("item_count"),
          sum(col("q")).as("total_qty"),
          count(lit(1)).as("parent_doc_count"))
    }),

    // ES `nested` QUERY form with `inner_hits` — the retrieval-side
    // counterpart of q72's nested AGGS (the higher-frequency user
    // surface): match parents where SOME inner object of the derived
    // items field (q72's array-of-objects derivation, idx added so the
    // inner_hits sort is total) satisfies the inner bool
    // (sku = 'sku1' AND qty ≥ 2), page the parents (top-20 by matched
    // inner count desc, id asc — the search hit page), and return each
    // parent's inner_hits payload: its matching inner objects, top-3 by
    // (qty desc, idx asc) with their rank — exactly the
    // hits.inner_hits.hits shape. Scale shape: the inner match is a pure
    // array HOF (filter over the items array — inner objects never leave
    // the parent row, NO corpus-sized explode), the only explode is over
    // the ≤3-element sliced page of the 20 surviving parents, and
    // inner_hits reuse the SAME filtered array the match computed — one
    // scan, no re-scan to fetch payloads (PlanSpec gates both).
    "q113_nested_inner_hits" -> ((s: SparkSession, d: String) => {
      val matched = Tables.spread(ev(s, d), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("items", expr(
          """transform(sequence(0, CAST(event_id % 5 AS INT)),
            |  i -> struct(concat('sku', CAST((k + i) % 3 AS STRING)) AS sku,
            |              (event_id + i) % 3 + 1 AS qty,
            |              i AS idx))""".stripMargin))
        .withColumn("hits", expr("filter(items, it -> it.sku = 'sku1' AND it.qty >= 2)"))
        .withColumn("n_inner_hits", size(col("hits")).cast("long"))
        .select(col("event_id"), col("n_inner_hits"), col("hits"))
        // filter above the top-k (the q96 pushdown-substitution lesson);
        // zero rows sort last on n_inner_hits DESC — identical row set
        .orderBy(col("n_inner_hits").desc, col("event_id").asc)
        .limit(20)
        .filter(col("n_inner_hits") > 0)
      matched
        .withColumn("page", slice(expr(
          """array_sort(hits, (l, r) -> CASE
            |  WHEN l.qty > r.qty THEN -1 WHEN l.qty < r.qty THEN 1
            |  WHEN l.idx < r.idx THEN -1 WHEN l.idx > r.idx THEN 1
            |  ELSE 0 END)""".stripMargin), 1, 3))
        .select(col("event_id"), col("n_inner_hits"),
          posexplode(col("page")).as(Seq("p", "hit")))
        .select(col("event_id"), col("n_inner_hits"),
          (col("p") + 1).cast("long").as("hit_rank"),
          col("hit.sku").as("sku"), col("hit.qty").cast("long").as("qty"))
    }),

    // ES `children` agg (join-field families): parent terms buckets fan out
    // to their child docs — orders(o_orderpriority) → children(lineitem) →
    // metrics — with the parent doc_count kept per bucket. The join is the
    // parent-key equi-join ES materializes through its join field; Spark
    // broadcastable dims don't apply (fact-fact), so it shuffles on the
    // order key once and aggregates per priority.
    "q73_children_agg" -> ((s: SparkSession, d: String) => {
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val l = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      // two-level aggregate instead of countDistinct(o_orderkey): mixing a
      // distinct agg with non-distinct ones plans through Expand (every
      // joined row duplicated before the shuffle). Keying the first level by
      // (priority, orderkey) pre-combines map-side; the second level counts
      // groups for the distinct-parent count. sumDet is an exact
      // scaled-integer sum, so the two-level split is value-identical —
      // PROVIDED each per-(priority, orderkey) scaled sum stays below 2^53
      // (~9e5 in quantity units at scale 10): above that, round(q*1e10) in
      // the outer level can lose integer exactness well before the 9.2e18
      // raise_error guard. TPC-H per-order quantity sums are ≤ ~350, three
      // orders of magnitude inside the bound; a reuse with larger per-group
      // sums must pass a smaller scale to the outer sumDet.
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"), col("o_orderkey"))
        .agg(count(lit(1)).as("c"), sumDet(col("l_quantity")).as("q"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("parent_doc_count"),
          sum(col("c")).as("child_doc_count"),
          sumDet(col("q")).as("sum_qty"))
    }),

    // ES `parent` agg — the inverse join-field direction of q73: buckets on
    // a CHILD field (lineitem.l_returnflag), sub-aggs over the DISTINCT
    // parent docs each bucket's children map to (a parent counts once per
    // bucket even when several of its children land there; reference:
    // join/aggregations/ParentAggregator semantics). Same two-level
    // no-Expand recipe: level one keys (l_returnflag, orderkey) — the child
    // fan-in pre-combines map-side and min() carries the parent metric
    // exactly once per (bucket, parent), it is constant within the group —
    // and level two counts groups for parent_doc_count and sums the
    // per-parent metric. One order-key shuffle, fact-fact, no Expand.
    "q73b_parent_agg" -> ((s: SparkSession, d: String) => {
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val l = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_returnflag"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"), col("o_orderkey"))
        .agg(count(lit(1)).as("c"), min(col("o_totalprice")).as("p"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("parent_doc_count"),
          sum(col("c")).as("child_doc_count"),
          sumDet(col("p"), 6).as("sum_parent_price"))
    }),

    // ES `bucket_count_ks_test` pipeline agg (its deterministic core): the
    // two-sided Kolmogorov–Smirnov statistic of the sibling histogram's
    // doc_count distribution against uniform — max |ECDF_actual − ECDF_uniform|
    // over the ordered buckets. Both ECDFs derive from INTEGER running
    // counts/ranks with one double division each, so the statistic is
    // IEEE-identical cross-engine (the agg's p-value is an asymptotic
    // approximation and intentionally not emitted).
    "q17l_bucket_count_ks_test" -> ((s: SparkSession, d: String) => {
      val w = Window.orderBy(col("bucket_ms"))
      val b = ev(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(hourBucket(col("ms")))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("rn", row_number().over(w).cast("long"))
      val tot = b.agg(count(lit(1)).as("n_buckets"), sum(col("c")).as("total_docs"))
      b.crossJoin(broadcast(tot))
        .withColumn("diff", abs(
          col("cum").cast("double") / col("total_docs") -
            col("rn").cast("double") / col("n_buckets")))
        .groupBy(col("n_buckets"), col("total_docs"))
        .agg(round(max(col("diff")), 6).as("d_statistic"))
    }),

    // ES `normalize` pipeline agg: per-bucket rescaling of the hourly sum
    // series — methods percent_of_sum ( v / Σv ) and rescale_0_1
    // ( (v−min)/(max−min) ). The series totals reduce through detsum (an
    // order-free exact scaled-integer sum — a plain double Σ over shuffle
    // partitions is order-dependent) and re-enter the coordinator-sized
    // series as one broadcast row; every derived op is a correctly-rounded
    // IEEE basic op, identical in the mirrored oracle.
    "q17k_normalize" -> ((s: SparkSession, d: String) => {
      val b = ev(s, d)
        .groupBy(hourBucket(col("ms")))
        .agg(sumDet(col("value")).as("v"))
      val tot = b.agg(
        sumDet(col("v"), 6).as("total"),
        min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      b.crossJoin(broadcast(tot))
        .select(
          col("bucket_ms"),
          col("v"),
          round(col("v") / col("total"), 6).as("pct_of_sum"),
          round((col("v") - col("mn")) / (col("mx") - col("mn")), 6).as("rescaled"))
    }),

    // ES `random_sampler` agg: probability sampling by deterministic hash
    // (the ES implementation seeds a hash per shard; here the hash IS the
    // row key, so both engines draw the identical sample), downstream aggs
    // run on the sample and report inverse-probability (÷0.25 = ×4)
    // estimates. p is a power of two, so the double scaling is EXACT and
    // the estimate hashes cross-engine. At 100 TB the filter prunes before
    // any shuffle — the whole point of the agg.
    "q12e_random_sampler" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .withColumn("hk", substring(md5(col("event_id").cast("string").cast("binary")), 1, 2))
        .filter(col("hk") < "40") // 64/256 = exact p = 0.25
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sampled_count"), sumDet(col("value")).as("sampled_sum"))
        .select(
          col("event_type"),
          col("sampled_count"),
          (col("sampled_count") * lit(4L)).as("est_count"),
          round(col("sampled_sum") * lit(4.0), 6).as("est_sum"))),

    // ES `variable_width_histogram`: buckets from 1-D clustering of the
    // value distribution (ES streams a clusterer per shard + coordinator
    // merge; here: deterministic Lloyd's k-means on the 1-D values, k=8,
    // 3 fixed rounds). Engineered for a DuckDB oracle, unlike the
    // xxhash64-seeded `operators.KMeans` (xxhash64 has no DuckDB
    // counterpart): init is the 8 odd-sixteenth quantiles of the training
    // sample — the dyadic probabilities are exact doubles in both engines
    // and the shared floor(q*1e6+0.5)/1e6 rounding absorbs interpolation
    // op-order ulps — and every later step (tie-broken argmin assignment,
    // detsum/COUNT centroid means, empty clusters carrying forward) is
    // mirrored op-for-op in the oracle SQL. Scale shape: per round one
    // 8-double literal rides INTO the scan (argmin is a codegen'd
    // array_min over literal structs — no join, no per-row shuffle) and 8
    // partial-sum rows come back through the driver; the vectors never
    // shuffle (the KMeans exchange discipline, minus its broadcast join).
    "q10g_variable_width_histogram" -> ((s: SparkSession, d: String) => {
      val vals = ev(s, d).select(col("event_id").as("id"), col("value").as("x"))
      // train on a deterministic 20% sample (the FAISS pattern: quantizers
      // train on a sample, ASSIGNMENT covers everything) — bucket quality
      // is statistical, coverage is exact either way. The sample
      // materializes first (the KMeans caller contract): without it,
      // seeding + each round re-evaluates the scan lineage — locally the
      // residual cost is per-round job latency, but at scale the repeated
      // scans are the real bill.
      val samp = vals.filter(col("id") % 5 === 0).localCheckpoint(true)
      // nearest-centroid assignment as a scalar expression: lexicographic
      // min over (|x − cᵢ|, list_id) literal structs ≡ the oracle's
      // row_number() OVER (ORDER BY abs(x - c), list_id); the list_id
      // tiebreak makes exact-distance ties deterministic, and Spark's
      // array_min and DuckDB's ORDER BY agree that NaN sorts last.
      def bestList(cent: Seq[(Int, Double)]) =
        array_min(array(cent.map { case (l, c) =>
          struct(abs(col("x") - lit(c)).as("d"), lit(l).as("l"))
        }: _*)).getField("l").as("list_id")
      var cent: Seq[(Int, Double)] = samp
        .agg(percentile(col("x"),
          array((1 to 8).map(i => lit((2.0 * i - 1) / 16.0)): _*)).as("qs"))
        .select(posexplode(col("qs")).as(Seq("p", "c")))
        .select((col("p") + 1).cast("int").as("list_id"),
          (floor(col("c") * lit(1e6) + lit(0.5)) / lit(1e6)).as("c"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq.sortBy(_._1)
      for (_ <- 1 to 3) {
        val updated = samp.select(bestList(cent), col("x"))
          .groupBy(col("list_id"))
          .agg((sumDet(col("x")) / count(lit(1))).as("c"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        cent = cent.map { case (l, old) => (l, updated.getOrElse(l, old)) }
      }
      Tables.freeCheckpoint(samp)
      vals.select(bestList(cent), col("x"))
        .groupBy(col("list_id"))
        .agg(
          count(lit(1)).as("doc_count"),
          min(col("x")).as("min_value"),
          max(col("x")).as("max_value"),
          (sumDet(col("x"), 6) / count(lit(1))).as("centroid"))
        .withColumn("bucket_rank",
          row_number().over(Window.orderBy(col("min_value").asc, col("list_id").asc)).cast("long"))
        .drop("list_id")
    }),

    // ES `boxplot` agg: exact five-number summary + IQR whiskers per group
    "q15e_boxplot" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          min(col("value")).as("lo"),
          round(expr("percentile(value, 0.25)"), 6).as("q1"),
          round(expr("percentile(value, 0.5)"), 6).as("q2"),
          round(expr("percentile(value, 0.75)"), 6).as("q3"),
          max(col("value")).as("hi"))
        .withColumn("iqr", round(col("q3") - col("q1"), 6))),

    // ES `top_metrics` agg: the metric value carried by the row that sorts
    // first (here: latest by timestamp) per bucket — a single map-side
    // argmax, never a per-group sort.
    "q16c_top_metrics" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(
          max_by(struct(col("value"), col("event_id")),
            struct(col("ms"), col("event_id"))).as("top"),
          max(col("ms")).as("latest_ms"))
        .select(col("event_type"), col("top.value").as("latest_value"),
          col("top.event_id").as("latest_event_id"), col("latest_ms"))),

    // ES search `collapse`: one best hit per collapse key (top doc by sort),
    // top-10 groups by that hit, with the group size inner_hits would report.
    // argmax via max_by so the per-key reduction collapses map-side.
    // ES `_msearch` — the multi-search envelope: N independent search
    // bodies in ONE request, responses tagged by position. Two bodies
    // exercising different shapes: req 0 = match_all sorted by value
    // (top-10), req 1 = term query event_type='error' top-10 — each the
    // standard hits page; the tag is the response-array index. Scale
    // shape: two limit-pushed top-k scans (Spark executes both bodies of
    // the one request as independent jobs, exactly how a coordinator
    // fans the envelope out).
    "q130_msearch" -> ((s: SparkSession, d: String) => {
      def page(src: DataFrame, req: Int): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        src.orderBy(col("value").desc, col("event_id").asc).limit(10)
          .withColumn("req", lit(req.toLong))
          .withColumn("rank", row_number().over(
            Window.partitionBy(lit(req)).orderBy(col("value").desc, col("event_id").asc)).cast("long"))
          .select(col("req"), col("rank"), col("event_id"), col("event_type"), col("value"))
      }
      val e = ev(s, d)
      page(e, 0).unionByName(page(e.filter(col("event_type") === "error"), 1))
    }),

    // ES `collapse` + `inner_hits` — q16b returns only each group's ONE
    // representative; the inner_hits form returns, per collapsed group on
    // the page, the group's own top-k member page (the hits.inner_hits
    // payload). Page = top-10 groups by (best value, user_id); inner
    // hits = top-3 events per selected group by (value desc, event_id).
    // Scale shape: group selection is one map-side-combined agg + global
    // top-10; the inner pass joins the BROADCAST 10-key page back to the
    // scan, so per-group work is page-sized (WindowGroupLimit bounds the
    // per-key sort).
    "q131_collapse_inner_hits" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val top = ev(s, d)
        .groupBy(col("user_id"))
        .agg(max(struct(col("value"), (-col("event_id")).as("neg"))).as("sel"),
          count(lit(1)).as("group_size"))
        .select(col("user_id"), col("sel.value").as("top_value"), col("group_size"))
        .orderBy(col("top_value").desc, col("user_id").asc).limit(10)
        .withColumn("group_rank", row_number().over(
          Window.orderBy(col("top_value").desc, col("user_id").asc)).cast("long"))
      ev(s, d)
        .join(broadcast(top), Seq("user_id"))
        .withColumn("inner_rank", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id").asc)).cast("long"))
        .filter(col("inner_rank") <= 3)
        .select(col("group_rank"), col("user_id"), col("group_size"),
          col("inner_rank"), col("event_id"), col("value"))
    }),

    "q16b_field_collapse" -> ((s: SparkSession, d: String) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .agg(
          max_by(
            struct(col("event_id"), col("event_type"), col("value")),
            struct(col("value"), (-col("event_id")).as("neg"))).as("top"),
          count(lit(1)).as("group_size"))
        .select(col("user_id"), col("top.event_id").as("event_id"),
          col("top.event_type").as("event_type"), col("top.value").as("value"), col("group_size"))
        .orderBy(col("value").desc, col("user_id").asc)
        .limit(10)),

    // ES `has_child` QUERY (the query form next to q73's children AGG):
    // return PARENT docs (orders) whose CHILDREN (lineitems) match the
    // inner query — a range filter l_quantity >= 45 under field_value_factor
    // scoring (child _score = l_quantity, the ES idiom for scoring by a
    // numeric field) — exercising the query's structural knobs:
    // min_children=2 (parents with fewer matching children drop) and
    // score_mode=max (parent _score = best matching child; the `sum` mode
    // rides along as sum_score). Top-20 parents by (score desc, key asc).
    // Scale shape: the child filter prunes BEFORE the orderkey shuffle, the
    // per-parent reduction pre-combines map-side, and the parent join is
    // fact-fact keyed on the orderkey only — no broadcast of a fact side,
    // no row ever carries more than the 3 aggregate fields.
    "q107_has_child" -> ((s: SparkSession, d: String) => {
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val ch = Tables(s, d, "lineitem")
        .filter(col("l_quantity") >= 45.0)
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_children"),
          max(col("l_quantity")).as("score"),
          sumDet(col("l_quantity")).as("sum_score"))
        .filter(col("n_children") >= 2)
      o.join(ch, col("o_orderkey") === col("l_orderkey"))
        .orderBy(col("score").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("n_children"), col("score"), col("sum_score"))
    }),

    // ES `has_parent` QUERY (inverse join-field direction, next to q73b's
    // parent AGG): return CHILD docs (lineitems) whose PARENT (order)
    // matches the parent query — o_orderpriority = '1-URGENT' AND
    // o_totalprice >= 200000 — with score=true: every matching child
    // INHERITS its parent's _score (field_value_factor on o_totalprice),
    // ES's score-propagation contract for this query. Top-20 children by
    // (parent_score desc, child key asc). Scale shape: the parent filter
    // prunes orders before the shuffle; the join keys on the orderkey only
    // (fact-fact, no broadcast — the matched-parent set grows with the
    // corpus), and no per-child state beyond the inherited score exists.
    "q108_has_parent" -> ((s: SparkSession, d: String) => {
      val par = Tables(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 200000.0)
        .select(col("o_orderkey"), col("o_totalprice").as("parent_score"))
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .join(par, col("l_orderkey") === col("o_orderkey"))
        .orderBy(col("parent_score").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("parent_score"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q10_date_histogram" ->
      s"""SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events GROUP BY bucket_ms""".stripMargin,
    "q10f_histogram_order_agg" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |  FROM events GROUP BY bucket_ms
         |)
         |SELECT *, CAST(row_number() OVER (ORDER BY sum_value DESC, bucket_ms ASC) AS BIGINT) AS order_rank
         |FROM b""".stripMargin,
    "q11_terms_topn" ->
      s"""SELECT event_type, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events GROUP BY event_type
         |ORDER BY doc_count DESC, event_type ASC LIMIT 10""".stripMargin,
    "q11e_rare_terms" ->
      """SELECT user_id, COUNT(*) AS doc_count
        |FROM events GROUP BY user_id HAVING COUNT(*) <= 55""".stripMargin,
    "q11f_multi_terms" ->
      s"""SELECT event_type, user_id % 10 AS user_bucket,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY doc_count DESC, event_type ASC, user_bucket ASC LIMIT 10""".stripMargin,
    "q11d_terms_ordered_keyed" ->
      s"""WITH t AS (
         |  SELECT event_type, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |  FROM events GROUP BY event_type
         |)
         |SELECT event_type, doc_count, sum_value,
         |       CAST(ROW_NUMBER() OVER (ORDER BY event_type ASC) AS BIGINT) AS order_rank,
         |       event_type AS key_str
         |FROM t""".stripMargin,
    "q12_filtered_agg" ->
      s"""SELECT event_type, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events
         |WHERE event_type IN ('purchase', 'error') AND value > 50.0
         |  AND epoch_ms(ts) >= $S AND epoch_ms(ts) < $E
         |GROUP BY event_type""".stripMargin,
    "q12b_filters_named" ->
      """SELECT COUNT(*) FILTER (WHERE event_type = 'purchase' AND value > 100.0) AS big_purchases,
        |       COUNT(*) FILTER (WHERE event_type = 'error') AS errors,
        |       COUNT(*) FILTER (WHERE value <= 10.0) AS small_values,
        |       COUNT(*) AS total
        |FROM events""".stripMargin,
    "q10b_numeric_histogram" ->
      """SELECT CAST(floor(value / 25.0) * 25 AS BIGINT) AS value_bucket, COUNT(*) AS doc_count
        |FROM events GROUP BY value_bucket""".stripMargin,
    "q10c_range_agg" ->
      s"""SELECT CASE WHEN value < 50.0 THEN 'lo' WHEN value < 200.0 THEN 'mid' ELSE 'hi' END AS range_key,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin,
    "q10g_variable_width_histogram" -> {
      // op-for-op mirror of the quantile-init Lloyd rounds (see the query
      // comment): ROW_NUMBER OVER (ORDER BY abs(x-c), list_id) = the Spark
      // side's lexicographic struct argmin; coalesce = empty clusters carry
      // their centroid forward; sumDetSql/COUNT = the detsum centroid mean.
      def roundCte(i: Int): String =
        s"""a$i AS (
           |  SELECT id, x, list_id,
           |         row_number() OVER (PARTITION BY id ORDER BY abs(x - c), list_id) AS rn
           |  FROM samp, c${i - 1}
           |), u$i AS (
           |  SELECT list_id, ${sumDetSql("x")} / COUNT(*) AS c
           |  FROM a$i WHERE rn = 1 GROUP BY list_id
           |), c$i AS (
           |  SELECT c${i - 1}.list_id, coalesce(u$i.c, c${i - 1}.c) AS c
           |  FROM c${i - 1} LEFT JOIN u$i ON u$i.list_id = c${i - 1}.list_id
           |)""".stripMargin
      s"""WITH vals AS (SELECT event_id AS id, value AS x FROM events),
         |samp AS (SELECT * FROM vals WHERE id % 5 = 0),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY c) AS INT) AS list_id,
         |         ${r6("c")} AS c
         |  FROM (SELECT unnest(quantile_cont(x, [0.0625, 0.1875, 0.3125, 0.4375,
         |                                        0.5625, 0.6875, 0.8125, 0.9375])) AS c
         |        FROM samp)
         |),
         |${roundCte(1)},
         |${roundCte(2)},
         |${roundCte(3)},
         |af AS (
         |  SELECT id, x, list_id,
         |         row_number() OVER (PARTITION BY id ORDER BY abs(x - c), list_id) AS rn
         |  FROM vals, c3
         |),
         |b AS (
         |  SELECT list_id, COUNT(*) AS doc_count, MIN(x) AS min_value, MAX(x) AS max_value,
         |         ${sumDetSql("x", 6)} / COUNT(*) AS centroid
         |  FROM af WHERE rn = 1 GROUP BY list_id
         |)
         |SELECT doc_count, min_value, max_value, centroid,
         |       CAST(row_number() OVER (ORDER BY min_value, list_id) AS BIGINT) AS bucket_rank
         |FROM b""".stripMargin
    },
    "q13b_weighted_avg" ->
      s"""WITH g AS (
         |  SELECT event_type,
         |         ${sumDetSql("value * CAST(CAST(json_extract(props, '$.k') AS INTEGER) AS DOUBLE)", 4)} AS sum_wx,
         |         ${sumDetSql("CAST(CAST(json_extract(props, '$.k') AS INTEGER) AS DOUBLE)")} AS sum_w
         |  FROM events GROUP BY event_type
         |)
         |SELECT event_type, sum_wx, sum_w, round(sum_wx / sum_w, 6) AS weighted_avg FROM g""".stripMargin,
    "q10d_date_range" ->
      s"""SELECT CASE WHEN epoch_ms(ts) < $S THEN 'before'
         |            WHEN epoch_ms(ts) < $E THEN 'during'
         |            ELSE 'after' END AS period,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin,
    "q12c_adjacency_matrix" ->
      """SELECT COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (WHERE value > 100.0) AS big,
        |       COUNT(*) FILTER (WHERE user_id % 2 = 0) AS even_user,
        |       COUNT(*) FILTER (WHERE event_type = 'purchase' AND value > 100.0) AS purchase_and_big,
        |       COUNT(*) FILTER (WHERE event_type = 'purchase' AND user_id % 2 = 0) AS purchase_and_even,
        |       COUNT(*) FILTER (WHERE value > 100.0 AND user_id % 2 = 0) AS big_and_even
        |FROM events""".stripMargin,
    "q11b_significant_terms" ->
      """WITH bg AS (SELECT user_id, COUNT(*) AS bg_count FROM events GROUP BY user_id),
        |fg AS (SELECT user_id, COUNT(*) AS fg_count FROM events WHERE event_type = 'error' GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS bg_total, COUNT(*) FILTER (WHERE event_type = 'error') AS fg_total FROM events)
        |SELECT fg.user_id, fg_count, bg_count,
        |       round((fg_count / fg_total) / (bg_count / bg_total), 6) AS score
        |FROM fg JOIN bg ON fg.user_id = bg.user_id, t
        |ORDER BY score DESC, fg.user_id ASC LIMIT 10""".stripMargin,
    "q17b_bucket_selector" ->
      s"""SELECT user_id, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events GROUP BY user_id
         |HAVING COUNT(*) >= 60 AND ${sumDetSql("value")} > 10000.0""".stripMargin,
    "q10e_auto_date_histogram" -> {
      val ladder = Seq(60000L, 300000L, 600000L, 1800000L, 3600000L,
        10800000L, 43200000L, 86400000L, 604800000L)
      val cases = ladder.map(l =>
        s"CASE WHEN floor(mx / $l) - floor(mn / $l) + 1 <= 50 THEN $l END").mkString(", ")
      s"""WITH b AS (SELECT min(epoch_ms(ts)) AS mn, max(epoch_ms(ts)) AS mx FROM events),
         |c AS (SELECT COALESCE($cases, ${ladder.last}) AS itv FROM b)
         |SELECT CAST(itv AS BIGINT) AS interval_ms,
         |       CAST(floor(epoch_ms(ts) / itv) * itv AS BIGINT) AS bucket_ms,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events, c GROUP BY 1, 2""".stripMargin
    },
    "q17c_bucket_script" ->
      s"""SELECT event_type,
         |       ${sumDetSql("CASE WHEN value > 50.0 THEN value ELSE 0.0 END")} AS sum_hi,
         |       ${sumDetSql("value")} AS sum_all,
         |       round((${sumDetSql("CASE WHEN value > 50.0 THEN value ELSE 0.0 END")}) / (${sumDetSql("value")}), 6) AS hi_share
         |FROM events GROUP BY event_type""".stripMargin,
    "q17d_stats_bucket" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         COUNT(*) AS doc_count
         |  FROM events GROUP BY bucket_ms
         |),
         |g AS (
         |  SELECT COUNT(*) AS n_buckets, MIN(doc_count) AS min_count,
         |         MAX(doc_count) AS max_count, CAST(SUM(doc_count) AS BIGINT) AS sum_count
         |  FROM b
         |)
         |SELECT n_buckets, min_count, max_count, sum_count,
         |       round(sum_count / n_buckets, 6) AS avg_count FROM g""".stripMargin,
    "q117_exists" ->
      """SELECT event_id, event_type, CAST(k AS BIGINT) AS big
        |FROM (SELECT event_id, event_type,
        |             CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |WHERE k >= 50
        |ORDER BY k DESC, event_id ASC LIMIT 20""".stripMargin,
    "q12d_missing" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
        |              THEN CAST(json_extract(props, '$.k') AS INTEGER) END AS big
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS doc_count, COUNT(big) AS n_present,
        |       COUNT(*) - COUNT(big) AS n_missing
        |FROM e GROUP BY event_type""".stripMargin,
    "q13_stats" ->
      s"""WITH g AS (
         |  SELECT event_type, COUNT(*) AS cnt, MIN(value) AS min_value,
         |         MAX(value) AS max_value, ${sumDetSql("value")} AS sum_value
         |  FROM events GROUP BY event_type
         |)
         |SELECT event_type, cnt, min_value, max_value, sum_value,
         |       sum_value / cnt AS avg_value FROM g""".stripMargin,
    "q14_cardinality" ->
      "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    // bit-exact DuckDB replay of the deterministic HLL (see operators/Hll)
    "q14b_cardinality_hll" -> graft.operators.Hll.eventsOracleSql("n_users_approx"),
    "q15_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,
    "q15c_median_abs_dev" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, round(m.med, 6) AS med,
        |       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |FROM events e JOIN m ON e.event_type = m.event_type
        |GROUP BY e.event_type, m.med""".stripMargin,
    // Exact SQL mirror of the HistQuantile sketch (plans/HistQuantile.scala):
    // the fixed-bin histogram is deterministic given the value multiset —
    // bin counts are exact integers and eval() is a fixed IEEE-double op
    // sequence (target = q*n; first non-empty bin with cum >= target;
    // clamped linear interpolation inside it) — so DuckDB replaying the
    // identical sequence hash-matches bit-for-bit. lo=0, hi=1000,
    // bins=1000 → width exactly 1.0.
    "q15b_percentiles_sketch" ->
      """WITH b AS (
        |  SELECT event_type,
        |         -- isnan guard: DuckDB orders NaN above every double, so
        |         -- without it NaN would take the >= 1000.0 branch (bin
        |         -- 1001), while the sketch's x >= hi is FALSE for NaN and
        |         -- (NaN).toInt == 0 lands it in bin 1
        |         CASE WHEN isnan(value) THEN 1
        |              WHEN value < 0.0 THEN 0
        |              WHEN value >= 1000.0 THEN 1001
        |              ELSE 1 + LEAST(999, CAST(FLOOR((value - 0.0) / 1.0) AS INT)) END AS idx,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT event_type, idx, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS BIGINT) AS cum,
        |         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b
        |),
        |qs AS (SELECT UNNEST([0.5, 0.95]) AS qq),
        |sel AS (
        |  SELECT event_type, qq, idx, cnt, cum, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, qq ORDER BY idx) AS rn
        |  FROM c CROSS JOIN qs
        |  WHERE CAST(cum AS DOUBLE) >= qq * CAST(n AS DOUBLE)
        |),
        |v AS (
        |  SELECT event_type, qq,
        |         CASE WHEN idx = 0 THEN 0.0
        |              WHEN idx = 1001 THEN 1000.0
        |              ELSE 0.0 + (idx - 1 + GREATEST(0.0, LEAST(1.0,
        |                (qq * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)))) * 1.0
        |         END AS val
        |  FROM sel WHERE rn = 1
        |)
        |SELECT event_type,
        |       MAX(CASE WHEN qq = 0.5 THEN val END) AS p50_sketch,
        |       MAX(CASE WHEN qq = 0.95 THEN val END) AS p95_sketch
        |FROM v GROUP BY event_type""".stripMargin,
    "q15d_percentile_ranks" ->
      """WITH g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         COUNT(*) FILTER (value <= 50.0) AS n50,
        |         COUNT(*) FILTER (value <= 90.0) AS n90
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type, round(n50 / n * 100, 6) AS pr50, round(n90 / n * 100, 6) AS pr90
        |FROM g""".stripMargin,
    "q19_extended_stats" ->
      s"""WITH g AS (
         |  SELECT event_type, COUNT(*) AS cnt,
         |         ${sumDetSql("value")} AS sum_value,
         |         ${sumDetSql("value * value", 4)} AS sum_sq
         |  FROM events GROUP BY event_type
         |),
         |m AS (SELECT *, sum_value / cnt AS mean FROM g)
         |SELECT event_type, cnt, sum_value, sum_sq, mean,
         |       round(sum_sq / cnt - mean * mean, 6) AS variance
         |FROM m""".stripMargin,
    "q16_top_hits" ->
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events
        |) WHERE rn <= 3""".stripMargin,
    "q17_composite_paging" ->
      s"""SELECT event_type, user_id, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM events
         |WHERE event_type > 'purchase' OR (event_type = 'purchase' AND user_id > 10)
         |GROUP BY event_type, user_id
         |ORDER BY event_type ASC, user_id ASC LIMIT 50""".stripMargin,
    // keyset pagination, cursor derived from page 1's last key — the same
    // resumable contract as the Spark side
    "q17g_composite_after" ->
      s"""WITH agg AS (
         |  SELECT event_type, user_id, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |  FROM events GROUP BY event_type, user_id
         |),
         |p1 AS (
         |  SELECT * FROM agg ORDER BY event_type ASC, user_id ASC LIMIT 50
         |),
         |ak AS (
         |  SELECT event_type AS a1, user_id AS a2 FROM p1
         |  ORDER BY event_type DESC, user_id DESC LIMIT 1
         |),
         |p2 AS (
         |  SELECT agg.* FROM agg, ak
         |  WHERE agg.event_type > ak.a1 OR (agg.event_type = ak.a1 AND agg.user_id > ak.a2)
         |  ORDER BY agg.event_type ASC, agg.user_id ASC LIMIT 50
         |)
         |SELECT event_type, user_id, doc_count, sum_value, CAST(1 AS BIGINT) AS page FROM p1
         |UNION ALL
         |SELECT event_type, user_id, doc_count, sum_value, CAST(2 AS BIGINT) AS page FROM p2""".stripMargin,
    "q11c_terms_sketch" ->
      """SELECT event_type, rank, item, cnt FROM (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item, COUNT(*) AS cnt,
        |         row_number() OVER (
        |           PARTITION BY event_type
        |           ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR) ASC) AS rank
        |  FROM events GROUP BY event_type, user_id
        |) WHERE rank <= 5""".stripMargin,
    "q17e_sibling_bucket_metrics" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         ${sumDetSql("value")} AS v
         |  FROM events GROUP BY bucket_ms
         |),
         |g AS (
         |  SELECT COUNT(*) AS n_buckets, MIN(v) AS min_bucket, MAX(v) AS max_bucket,
         |         ${sumDetSql("v", 6)} AS sum_bucket
         |  FROM b
         |),
         |mk AS (SELECT bucket_ms AS min_key FROM b ORDER BY v ASC, bucket_ms ASC LIMIT 1),
         |xk AS (SELECT bucket_ms AS max_key FROM b ORDER BY v DESC, bucket_ms ASC LIMIT 1)
         |SELECT n_buckets, min_bucket, max_bucket, sum_bucket, min_key, max_key,
         |       round(sum_bucket / n_buckets, 6) AS avg_bucket
         |FROM g, mk, xk""".stripMargin,
    "q17f_bucket_sort" ->
      s"""SELECT bucket_ms, doc_count, sum_value, rank FROM (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value,
         |         CAST(row_number() OVER (
         |           ORDER BY ${sumDetSql("value")} DESC,
         |                    CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS ASC) AS BIGINT) AS rank
         |  FROM events GROUP BY bucket_ms
         |) WHERE rank > 2 AND rank <= 12""".stripMargin,
    "q09b_cumulative_cardinality" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(epoch_ms(ts) / $DAY_MS) AS BIGINT) * $DAY_MS AS day_ms
         |  FROM events
         |),
         |days AS (SELECT day_ms, COUNT(*) AS doc_count FROM e GROUP BY day_ms),
         |fs AS (
         |  SELECT first_day, COUNT(*) AS new_users FROM (
         |    SELECT user_id, MIN(day_ms) AS first_day FROM e GROUP BY user_id
         |  ) GROUP BY first_day
         |)
         |SELECT days.day_ms AS day_ms, days.doc_count AS doc_count,
         |       COALESCE(fs.new_users, 0) AS new_users,
         |       CAST(SUM(COALESCE(fs.new_users, 0)) OVER (
         |         ORDER BY days.day_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         |FROM days LEFT JOIN fs ON days.day_ms = fs.first_day""".stripMargin,
    "q19d_geo_centroid" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
         |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
         |  FROM events
         |)
         |SELECT event_type, COUNT(*) AS doc_count,
         |       round((${sumDetSql("lat")}) / CAST(COUNT(*) AS DOUBLE), 6) AS centroid_lat,
         |       round((${sumDetSql("lon")}) / CAST(COUNT(*) AS DOUBLE), 6) AS centroid_lon
         |FROM e GROUP BY event_type""".stripMargin,
    "q19e_geo_line" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |         (event_id * 37) % 17000 - 8500 AS lat100,
        |         (event_id * 91) % 36000 - 18000 AS lon100
        |  FROM events WHERE user_id % 97 = 0
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS rn
        |  FROM e
        |)
        |SELECT user_id, COUNT(*) AS n_points,
        |       string_agg(CAST(lon100 AS VARCHAR) || ' ' || CAST(lat100 AS VARCHAR), ';' ORDER BY rn) AS line
        |FROM r WHERE rn <= 10 GROUP BY user_id""".stripMargin,
    "q19f_geo_bounds" ->
      """WITH e AS (
        |  SELECT event_type,
        |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
        |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS doc_count,
        |       MAX(lat) AS top, MIN(lat) AS bottom, MIN(lon) AS "left", MAX(lon) AS "right"
        |FROM e GROUP BY event_type""".stripMargin,
    "q11i_categorize_text" ->
      """SELECT regexp_replace(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
        |                      '[0-9]+', '#', 'g') AS template,
        |       COUNT(*) AS doc_count
        |FROM documents GROUP BY template
        |ORDER BY doc_count DESC, template ASC LIMIT 20""".stripMargin,
    "q64_frequent_item_sets" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets FROM lineitem),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2
        |)
        |SELECT item_a, item_b, support, round(CAST(support AS DOUBLE) / n_baskets, 6) AS support_ratio
        |FROM pairs, nb WHERE support >= 20
        |ORDER BY support DESC, item_a ASC, item_b ASC LIMIT 25""".stripMargin,
    "q61_matrix_stats" -> {
      val momentsSql = msFields.flatMap { f =>
        Seq(s"${sumDetSql(f)} AS s_$f") ++
          msPairs.collect { case (a, b) if a == f => s"${sumDetSql(s"$a * $b")} AS s_$a$b" } ++
          Seq(
            s"${sumDetSql(s"$f * $f * $f")} AS s_$f$f$f",
            s"${sumDetSql(s"$f * $f * $f * $f")} AS s_$f$f$f$f")
      }
      s"""WITH li AS (
         |  SELECT l_quantity / 100.0 AS q, l_extendedprice / 100000.0 AS p, l_discount AS dd
         |  FROM lineitem
         |),
         |g0 AS (
         |  SELECT COUNT(*) AS cnt, ${momentsSql.mkString(",\n         ")}
         |  FROM li
         |),
         |g AS (SELECT *, CAST(cnt AS DOUBLE) AS n FROM g0)
         |${msFields.map(f => s"SELECT ${matrixStatsSelect(f).mkString(", ")} FROM g")
          .mkString("\nUNION ALL\n")}""".stripMargin
    },
    "q62_t_test" ->
      s"""WITH g AS (
         |  SELECT COUNT(*) FILTER (WHERE event_type = 'purchase') AS cnt1,
         |         COUNT(*) FILTER (WHERE event_type = 'error') AS cnt2,
         |         ${sumDetSql("CASE WHEN event_type = 'purchase' THEN value END")} AS s1,
         |         ${sumDetSql("CASE WHEN event_type = 'error' THEN value END")} AS s2,
         |         ${sumDetSql("CASE WHEN event_type = 'purchase' THEN value * value END")} AS s11,
         |         ${sumDetSql("CASE WHEN event_type = 'error' THEN value * value END")} AS s22
         |  FROM events
         |)
         |SELECT ${tTestSelect.mkString(", ")} FROM g""".stripMargin,
    "q60_scripted_metric" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |           PARTITION BY event_type ORDER BY epoch_ms(ts)) AS gap
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS doc_count, max(gap) AS max_gap_ms
        |FROM g GROUP BY event_type""".stripMargin,
    "q49b_diversified_sampler" ->
      s"""WITH sampled AS (
         |  SELECT * FROM (
         |    SELECT event_type, value,
         |           row_number() OVER (
         |             PARTITION BY user_id
         |             ORDER BY md5(CAST(event_id AS VARCHAR)) ASC, event_id ASC) AS rn
         |    FROM events
         |  ) WHERE rn <= 3
         |)
         |SELECT event_type, COUNT(*) AS sample_count, ${sumDetSql("value")} AS sample_sum
         |FROM sampled GROUP BY event_type""".stripMargin,
    "q49c_sampler" ->
      s"""WITH sampled AS (
         |  SELECT event_type, value FROM events
         |  ORDER BY value DESC, event_id ASC LIMIT 200
         |)
         |SELECT event_type, COUNT(*) AS sample_count, ${sumDetSql("value")} AS sample_sum
         |FROM sampled GROUP BY event_type""".stripMargin,
    "q74_global_agg" ->
      s"""SELECT COUNT(*) FILTER (WHERE event_type = 'purchase' AND value > 50.0) AS hit_count,
         |       ${sumDetSql("CASE WHEN event_type = 'purchase' AND value > 50.0 THEN value END")} AS hit_sum,
         |       COUNT(*) AS global_count,
         |       ${sumDetSql("value")} AS global_sum
         |FROM events""".stripMargin,
    "q19b_geo_grid" ->
      s"""WITH e AS (
         |  SELECT value,
         |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
         |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
         |  FROM events
         |)
         |SELECT CAST(floor(lat / 5) AS BIGINT) AS cell_lat,
         |       CAST(floor(lon / 5) AS BIGINT) AS cell_lon,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM e GROUP BY 1, 2""".stripMargin,
    "q19g_geohash_grid" ->
      s"""WITH pts AS (
         |  SELECT value,
         |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
         |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
         |  FROM events
         |),
         |${graft.functions.geohash.geohashSqlCtes("pts", "lat", "lon", "gh", 3, "gh")}
         |SELECT gh, COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM ghfin GROUP BY gh
         |ORDER BY doc_count DESC, gh ASC LIMIT 20""".stripMargin,
    "q130_msearch" ->
      """WITH r0 AS (
        |  SELECT 0 AS req, CAST(row_number() OVER (ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank,
        |         event_id, event_type, value
        |  FROM events QUALIFY rank <= 10
        |),
        |r1 AS (
        |  SELECT 1 AS req, CAST(row_number() OVER (ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank,
        |         event_id, event_type, value
        |  FROM events WHERE event_type = 'error' QUALIFY rank <= 10
        |)
        |SELECT CAST(req AS BIGINT) AS req, rank, event_id, event_type, value FROM r0
        |UNION ALL
        |SELECT CAST(req AS BIGINT) AS req, rank, event_id, event_type, value FROM r1""".stripMargin,
    "q131_collapse_inner_hits" ->
      """WITH g AS (
        |  SELECT user_id, max(struct_pack(value := value, neg := -event_id)) AS sel,
        |         COUNT(*) AS group_size
        |  FROM events GROUP BY user_id
        |),
        |top AS (
        |  SELECT user_id, sel.value AS top_value, group_size,
        |         CAST(row_number() OVER (ORDER BY sel.value DESC, user_id ASC) AS BIGINT) AS group_rank
        |  FROM g QUALIFY group_rank <= 10
        |)
        |SELECT t.group_rank, e.user_id, t.group_size,
        |       CAST(row_number() OVER (PARTITION BY e.user_id ORDER BY e.value DESC, e.event_id ASC) AS BIGINT) AS inner_rank,
        |       e.event_id, e.value
        |FROM events e JOIN top t ON e.user_id = t.user_id
        |QUALIFY inner_rank <= 3""".stripMargin,
    "q128_geo_bounding_box" ->
      """WITH p AS (
        |  SELECT event_id,
        |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
        |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
        |  FROM events
        |),
        |h AS (
        |  SELECT * FROM p
        |  WHERE lat >= -85.0 AND lat <= -82.0 AND lon >= -180.0 AND lon <= -172.0
        |),
        |t AS (SELECT COUNT(*) AS total FROM h)
        |SELECT event_id, lat, lon, total FROM h, t
        |ORDER BY event_id ASC LIMIT 20""".stripMargin,
    "q129_geo_distance_query" ->
      """WITH p AS (
        |  SELECT event_id,
        |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
        |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
        |  FROM events
        |),
        |h AS (
        |  SELECT * FROM (
        |    SELECT event_id, lat, lon,
        |           sqrt((lat + 83.0) * (lat + 83.0) + (lon + 175.0) * (lon + 175.0)) AS dist
        |    FROM p
        |  ) WHERE dist < 3.0
        |),
        |t AS (SELECT COUNT(*) AS total FROM h)
        |SELECT event_id, lat, lon, dist, total FROM h, t
        |ORDER BY event_id ASC LIMIT 20""".stripMargin,
    "q133_geo_shape_polygon" ->
      s"""WITH p AS (
         |  SELECT event_id,
         |         (user_id * 37) % 17000 - 8500 AS plat,
         |         (user_id * 91) % 36000 - 18000 AS plon
         |  FROM events
         |),
         |h AS (SELECT * FROM p WHERE (($geoPolyCrossSql) % 2) = 1),
         |t AS (SELECT COUNT(*) AS total FROM h)
         |SELECT event_id, plat, plon, total FROM h, t
         |ORDER BY event_id ASC LIMIT 20""".stripMargin,
    "q64b_frequent_item_sets_k3" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets FROM lineitem),
        |p2 AS (
        |  SELECT a.item AS ia, b.item AS ib
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |),
        |t AS (
        |  SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c, COUNT(*) AS support
        |  FROM items a
        |  JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  JOIN items c ON b.basket = c.basket AND b.item < c.item
        |  WHERE EXISTS (SELECT 1 FROM p2 WHERE ia = a.item AND ib = b.item)
        |    AND EXISTS (SELECT 1 FROM p2 WHERE ia = b.item AND ib = c.item)
        |    AND EXISTS (SELECT 1 FROM p2 WHERE ia = a.item AND ib = c.item)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT item_a, item_b, item_c, support,
        |       round(CAST(support AS DOUBLE) / n_baskets, 6) AS support_ratio
        |FROM t, nb WHERE support >= 5
        |ORDER BY support DESC, item_a ASC, item_b ASC, item_c ASC LIMIT 25""".stripMargin,
    "q19c_geo_distance" ->
      s"""WITH e AS (
         |  SELECT value,
         |         ((user_id * 37) % 17000) / 100.0 - 85.0 AS lat,
         |         ((user_id * 91) % 36000) / 100.0 - 180.0 AS lon
         |  FROM events
         |),
         |d AS (
         |  SELECT value,
         |         sqrt((lat - 10.0) * (lat - 10.0) + (lon - 20.0) * (lon - 20.0)) AS dist
         |  FROM e
         |)
         |SELECT CASE WHEN dist < 30.0 THEN 'near' WHEN dist < 90.0 THEN 'mid' ELSE 'far' END AS ring,
         |       COUNT(*) AS doc_count, ${sumDetSql("value")} AS sum_value
         |FROM d GROUP BY 1""".stripMargin,
    "q17j_change_point" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         ${sumDetSql("value")} AS v
         |  FROM events GROUP BY bucket_ms
         |),
         |sc AS (SELECT bucket_ms, CAST(round(v * 1.0e6) AS DECIMAL(27,0)) AS sv FROM b),
         |cum AS (
         |  SELECT bucket_ms,
         |         SUM(sv) OVER (ORDER BY bucket_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre_s,
         |         row_number() OVER (ORDER BY bucket_ms) AS pre_n
         |  FROM sc
         |),
         |tot AS (SELECT SUM(sv) AS tot_s, COUNT(*) AS tot_n FROM sc),
         |m AS (
         |  SELECT bucket_ms,
         |         (CAST(pre_s AS DOUBLE) / 1.0e6) / CAST(pre_n AS DOUBLE) AS before_mean,
         |         (CAST(tot_s - pre_s AS DOUBLE) / 1.0e6) / CAST(tot_n - pre_n AS DOUBLE) AS after_mean
         |  FROM cum, tot WHERE pre_n < tot_n
         |)
         |SELECT bucket_ms AS change_at_ms,
         |       ${roundDetSql("before_mean", 6)} AS before_mean,
         |       ${roundDetSql("after_mean", 6)} AS after_mean,
         |       ${roundDetSql("after_mean - before_mean", 6)} AS delta
         |FROM m
         |ORDER BY abs(after_mean - before_mean) DESC, bucket_ms ASC LIMIT 1""".stripMargin,
    "q17h_bucket_correlation" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         COUNT(*) FILTER (WHERE event_type = 'purchase') AS x,
         |         COUNT(*) FILTER (WHERE event_type = 'error') AS y
         |  FROM events GROUP BY bucket_ms
         |),
         |g AS (
         |  SELECT COUNT(*) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(x * y) AS BIGINT) AS sxy,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx,
         |         CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM b
         |)
         |SELECT n, sx, sy, sxy, sxx, syy,
         |       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
         |             sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
         |                  (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r
         |FROM g""".stripMargin,
    "q17i_percentiles_bucket" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         ${sumDetSql("value")} AS v
         |  FROM events GROUP BY bucket_ms
         |)
         |SELECT round(quantile_cont(v, 0.25), 6) AS p25,
         |       round(quantile_cont(v, 0.5), 6) AS p50,
         |       round(quantile_cont(v, 0.99), 6) AS p99
         |FROM b""".stripMargin,
    "q72_nested_agg" ->
      """WITH it AS (
        |  SELECT event_id,
        |         UNNEST(list_transform(generate_series(0, CAST(event_id % 5 AS INT)),
        |           i -> {'sku': 'sku' || CAST((CAST(json_extract(props, '$.k') AS BIGINT) + i) % 3 AS VARCHAR),
        |                 'qty': (event_id + i) % 3 + 1})) AS item
        |  FROM events
        |)
        |SELECT item.sku AS sku,
        |       COUNT(*) AS item_count,
        |       CAST(SUM(item.qty) AS BIGINT) AS total_qty,
        |       COUNT(DISTINCT event_id) AS parent_doc_count
        |FROM it GROUP BY 1""".stripMargin,
    "q113_nested_inner_hits" ->
      """WITH base AS (
        |  SELECT event_id,
        |         list_transform(generate_series(0, CAST(event_id % 5 AS INT)),
        |           i -> {'sku': 'sku' || CAST((CAST(json_extract(props, '$.k') AS BIGINT) + i) % 3 AS VARCHAR),
        |                 'qty': (event_id + i) % 3 + 1,
        |                 'idx': i}) AS items
        |  FROM events
        |),
        |h AS (
        |  SELECT event_id,
        |         list_filter(items, it -> it.sku = 'sku1' AND it.qty >= 2) AS hits
        |  FROM base
        |),
        |top AS (
        |  SELECT event_id, len(hits) AS n, hits FROM h WHERE len(hits) > 0
        |  ORDER BY n DESC, event_id ASC LIMIT 20
        |),
        |ex AS (SELECT event_id, n, UNNEST(hits) AS hit FROM top),
        |r AS (
        |  SELECT event_id, n, hit.sku AS sku, hit.qty AS qty,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY hit.qty DESC, hit.idx ASC) AS hit_rank
        |  FROM ex
        |)
        |SELECT event_id, CAST(n AS BIGINT) AS n_inner_hits,
        |       CAST(hit_rank AS BIGINT) AS hit_rank, sku, CAST(qty AS BIGINT) AS qty
        |FROM r WHERE hit_rank <= 3""".stripMargin,
    "q73_children_agg" ->
      s"""SELECT o_orderpriority,
         |       COUNT(DISTINCT o_orderkey) AS parent_doc_count,
         |       COUNT(*) AS child_doc_count,
         |       ${sumDetSql("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority""".stripMargin,
    "q73b_parent_agg" ->
      s"""WITH pp AS (
         |  SELECT l_returnflag, o_orderkey,
         |         COUNT(*) AS c, MIN(o_totalprice) AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |)
         |SELECT l_returnflag,
         |       COUNT(*) AS parent_doc_count,
         |       CAST(SUM(c) AS BIGINT) AS child_doc_count,
         |       ${sumDetSql("p", 6)} AS sum_parent_price
         |FROM pp GROUP BY l_returnflag""".stripMargin,
    "q107_has_child" ->
      s"""WITH ch AS (
         |  SELECT l_orderkey, COUNT(*) AS n_children, MAX(l_quantity) AS score,
         |         ${sumDetSql("l_quantity")} AS sum_score
         |  FROM lineitem WHERE l_quantity >= 45.0
         |  GROUP BY l_orderkey HAVING COUNT(*) >= 2
         |)
         |SELECT o_orderkey, o_orderpriority, n_children, score, sum_score
         |FROM orders JOIN ch ON o_orderkey = l_orderkey
         |ORDER BY score DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q108_has_parent" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice AS parent_score
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 200000.0
        |ORDER BY parent_score DESC, l_orderkey ASC, l_linenumber ASC LIMIT 20""".stripMargin,
    "q17l_bucket_count_ks_test" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         COUNT(*) AS c
         |  FROM events WHERE event_type = 'purchase' GROUP BY bucket_ms
         |),
         |r AS (
         |  SELECT c,
         |         SUM(c) OVER (ORDER BY bucket_ms) AS cum,
         |         CAST(ROW_NUMBER() OVER (ORDER BY bucket_ms) AS BIGINT) AS rn
         |  FROM b
         |),
         |tot AS (SELECT COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS total_docs FROM r)
         |SELECT n_buckets, total_docs,
         |       round(MAX(abs(CAST(cum AS DOUBLE) / total_docs -
         |                     CAST(rn AS DOUBLE) / n_buckets)), 6) AS d_statistic
         |FROM r, tot GROUP BY n_buckets, total_docs""".stripMargin,
    "q17k_normalize" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(epoch_ms(ts) / $HOUR_MS) AS BIGINT) * $HOUR_MS AS bucket_ms,
         |         ${sumDetSql("value")} AS v
         |  FROM events GROUP BY bucket_ms
         |),
         |tot AS (
         |  SELECT ${sumDetSql("v", 6)} AS total, MIN(v) AS mn, MAX(v) AS mx FROM b
         |)
         |SELECT bucket_ms, v,
         |       round(v / total, 6) AS pct_of_sum,
         |       round((v - mn) / (mx - mn), 6) AS rescaled
         |FROM b, tot""".stripMargin,
    "q12e_random_sampler" ->
      s"""SELECT event_type,
         |       COUNT(*) AS sampled_count,
         |       COUNT(*) * 4 AS est_count,
         |       round(${sumDetSql("value")} * 4.0, 6) AS est_sum
         |FROM events
         |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40'
         |GROUP BY event_type""".stripMargin,
    "q15e_boxplot" ->
      """WITH g AS (
        |  SELECT event_type, MIN(value) AS lo,
        |         round(quantile_cont(value, 0.25), 6) AS q1,
        |         round(quantile_cont(value, 0.5), 6) AS q2,
        |         round(quantile_cont(value, 0.75), 6) AS q3,
        |         MAX(value) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type, lo, q1, q2, q3, hi, round(q3 - q1, 6) AS iqr FROM g""".stripMargin,
    "q16c_top_metrics" ->
      """SELECT event_type, value AS latest_value, event_id AS latest_event_id, ms AS latest_ms
        |FROM (
        |  SELECT event_type, value, event_id, epoch_ms(ts) AS ms,
        |         row_number() OVER (
        |           PARTITION BY event_type
        |           ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,
    "q16b_field_collapse" ->
      """SELECT user_id, event_id, event_type, value, group_size FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS group_size
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY value DESC, user_id ASC LIMIT 10""".stripMargin)
}
