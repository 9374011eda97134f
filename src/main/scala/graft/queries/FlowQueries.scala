package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.ProportionalSum
import graft.operators.ProportionalSum.Config

/** proportional_sum query matrix over the derived flow view ([[Flows]]).
  *
  * Each query key has a DataFrame implementation and a DuckDB oracle built
  * from the SAME parameters by [[oracle]], so the two stay in lockstep.
  */
object FlowQueries {
  import Flows._

  private val S = JAN_START_MS + 4 * DAY_MS // 2024-01-05
  private val E = JAN_START_MS + 24 * DAY_MS // 2024-01-25

  private def flowsWithFilter(spark: SparkSession, dir: String, filter: Option[Column]): DataFrame = {
    val f = Flows.df(spark, dir)
    filter.map(f.filter).getOrElse(f)
  }

  private def q(
      cfg: Config,
      sampling: Option[Column] = None,
      rowFilter: Option[Column] = None,
      groupCols: Seq[Column] = Nil,
      dense: Option[(Long, Long)] = None,
      stretchDays: Option[Int] = None)(spark: SparkSession, dir: String): DataFrame = {
    val base = flowsWithFilter(spark, dir, rowFilter)
    val flows = stretchDays.fold(base)(Flows.stretched(base, _))
    if (dense.isDefined) ProportionalSum.runDense(flows, col("rs"), col("re"), col("v"), sampling, cfg, dense)
    else ProportionalSum.run(flows, col("rs"), col("re"), col("v"), sampling, cfg, groupCols)
  }

  /** A flow's contribution to one bucket it overlaps: its value times the
    * overlap / duration ratio, the whole value for a zero-duration flow. */
  private val contribSql = "CASE WHEN dur = 0 THEN eff_v ELSE eff_v * (ov / dur) END"

  /** The DuckDB step of each calendar unit [[Config]] accepts. Spelled here,
    * apart from the engine's own step table, so a wrong step on either side
    * shows as a mismatch instead of hiding on both. */
  private val calendarIntervals: Map[String, String] = Map(
    "week" -> "INTERVAL 7 DAY",
    "month" -> "INTERVAL 1 MONTH",
    "quarter" -> "INTERVAL 3 MONTH",
    "year" -> "INTERVAL 1 YEAR",
    "day" -> "INTERVAL 1 DAY",
    "hour" -> "INTERVAL 1 HOUR",
    "minute" -> "INTERVAL 1 MINUTE",
    "second" -> "INTERVAL 1 SECOND")

  /** `x` floored to `cfg`'s fixed grid, as [[ProportionalSum]] rounds it. */
  private def bucketSql(cfg: Config, x: String): String = {
    val itv = cfg.intervalMs
    if (cfg.offsetMs == 0L) s"CAST(floor(($x) / $itv) AS BIGINT) * $itv"
    else s"CAST(floor((($x) - ${cfg.offsetMs}) / $itv) AS BIGINT) * $itv + ${cfg.offsetMs}"
  }

  /** The DuckDB mirror of [[ProportionalSum.explodeContrib]] and
    * [[ProportionalSum.aggregate]] on either grid, over the `flows` CTE
    * (columns rs, re, v and any the sampling, filter and group SQL read).
    * Arithmetic shapes (floor of double division, decimal-cast-then-sum)
    * match the Spark plan operation-for-operation so results are
    * bit-identical. Like `explodeContrib`, only the bucket rounding differs
    * by grid: the fixed grid floors a double division, the calendar grid
    * `date_trunc`s the offset-shifted instant and steps by the unit.
    *
    * Returns the CTE chain `flows, ranged, ex, ovl, agg` with no final
    * SELECT: `ovl` holds one row per (flow, overlapped bucket) with the
    * group columns, `bucket_ms`, `dur`, `eff_v` and the overlap `ov`;
    * `agg` the per-bucket `doc_count` and `value`. */
  private[queries] def oracle(
      cfg: Config,
      samplingSql: Option[String] = None,
      rowFilterSql: Option[String] = None,
      groupCols: Seq[String] = Nil,
      flows: String = Flows.sqlCte): String = {
    val clampS = cfg.startMs.map(s => s"GREATEST(rs, $s)").getOrElse("rs")
    val clampE = cfg.endMs.map(e => s"LEAST(re, $e)").getOrElse("re")
    // first/last bucket of the clamped range, the series step, the
    // exploded column, and the bucket's start and end in epoch millis
    val (first, last, step, exploded, bucketMs, nextMs) = cfg.calendarUnit match {
      case None =>
        val itv = cfg.intervalMs
        (bucketSql(cfg, clampS), bucketSql(cfg, clampE), itv.toString, "bucket_ms", "bucket_ms", s"bucket_ms + $itv")
      case Some(unit) =>
        val u = unit.toLowerCase
        val itv = calendarIntervals(u)
        val off = cfg.offsetMs
        def trunc(x: String) = s"date_trunc('$u', make_timestamp(${if (off == 0L) x else s"($x - $off)"} * 1000))"
        def epoch(ts: String) = if (off == 0L) s"epoch_ms($ts)" else s"epoch_ms($ts) + $off"
        (trunc(clampS), trunc(clampE), itv, "bts", epoch("bts"), epoch(s"bts + $itv"))
    }
    val bucketCol = if (bucketMs == exploded) bucketMs else s"$bucketMs AS bucket_ms"
    val eff = samplingSql match {
      case None => "v"
      case Some(s) =>
        s"CASE WHEN ($s) IS NOT NULL AND NOT isnan($s) AND ($s) <> 0 AND NOT isinf($s) THEN v * ($s) ELSE v END"
    }
    val where = rowFilterSql.map(f => s"WHERE $f").getOrElse("")
    val grp = groupCols.map(c => s"$c, ").mkString
    s"""WITH $flows,
       |ranged AS (
       |  SELECT *, re - rs AS dur, ($eff) AS eff_v,
       |         $first AS fb,
       |         $last AS lb
       |  FROM flows $where
       |),
       |ex AS (
       |  SELECT *, UNNEST(generate_series(fb, lb, $step)) AS $exploded
       |  FROM ranged WHERE fb <= lb
       |),
       |ovl AS (
       |  SELECT $grp$bucketCol, dur, eff_v,
       |         GREATEST(0, LEAST($nextMs, re) - GREATEST($bucketMs, rs)) AS ov
       |  FROM ex
       |),
       |agg AS (
       |  SELECT ${grp}bucket_ms, COUNT(*) AS doc_count,
       |         ${graft.functions.detsum.sumDetSql(contribSql)} AS value
       |  FROM ovl GROUP BY ${grp}bucket_ms
       |)""".stripMargin
  }

  /** [[oracle]]'s per-bucket series. */
  private def series(chain: String): String = s"$chain SELECT * FROM agg"

  /** The empty-bucket fill over [[oracle]]'s chain: every bucket (per group)
    * `grid` selects, zero-filled where `agg` has none. */
  private def filled(chain: String, grid: String, groupCols: Seq[String] = Nil): String = {
    val keys = groupCols :+ "bucket_ms"
    s"""$chain,
       |grid AS (
       |  $grid
       |)
       |SELECT ${keys.map(k => s"grid.$k AS $k").mkString(", ")},
       |       COALESCE(agg.doc_count, 0) AS doc_count,
       |       COALESCE(agg.value, 0.0) AS value
       |FROM grid LEFT JOIN agg ON ${keys.map(k => s"grid.$k = agg.$k").mkString(" AND ")}""".stripMargin
  }

  /** A watermarked append stream's output over [[oracle]]'s chain: the
    * batch series up to the final watermark, max bucket − `delayMs`
    * (eviction is non-strict). */
  private def untilWatermark(chain: String, delayMs: Long): String =
    s"""$chain,
       |wm AS (SELECT max(bucket_ms) - $delayMs AS w FROM agg)
       |SELECT agg.* FROM agg, wm WHERE agg.bucket_ms <= wm.w""".stripMargin

  /** q09e's scalar chain: (column, SQL expression) steps over the lag
    * columns `l0..l6` (l0 = current bucket, l6 = oldest) and the frame
    * count `n`, evaluated IN ORDER — the Spark side folds them through
    * `withColumn(expr(...))`, the DuckDB oracle through nested SELECT
    * wrappers, so both engines execute the textually identical scalar DAG.
    *
    * Semantics follow ES's MovingFunctions (reference framework surface;
    * the drift plugin ships inside that agg framework — DriftPlugin.java:29):
    *   - unweightedAvg/sum: left fold `acc + v` oldest→newest (ES seeds
    *     0.0; 0.0 + v₁ == v₁ in IEEE, so the null-seeded chain is
    *     identical).
    *   - stdDev(values, avg): sqrt(Σ (v − avg)² / n) with avg the DOUBLE
    *     unweightedAvg — ES divides by the given avg's count, population
    *     form, squared deviations accumulated oldest→newest.
    *   - linearWeightedAvg: weights 1..n oldest→newest. DIVERGENCE: ES
    *     seeds its denominator at 1 (totalWeight = 1 before the loop), we
    *     use the textbook n(n+1)/2 — documented here like q07b's NaN
    *     divergence. The numerator is exact BIGINT (6-dp-scaled values,
    *     |term| ≤ 7·7·10⁶·|v|, ~10¹² at sf0.1 — 10⁶ headroom to BIGINT).
    *   - ewma: e ← (v · α) + (e · (1−α)), α = 0.5 (dyadic: both products
    *     exact, one rounded add per step).
    *   - holt: s ← (v · α) + ((s + b) · (1−α));
    *     b ← ((s_new − s) · β) + (b · (1−β)); seeds s₁ = v₁, b₁ = 0;
    *     α = 0.5, β = 0.25; the result is s (ES returns the 1-step
    *     forecast s + 0·b).
    * A NULL lag (series head) carries the state unchanged — ES's NaN-skip. */
  private val movFnSteps: Seq[(String, String)] = {
    // running sum (unweightedAvg numerator / MovingFunctions.sum)
    val u = (6 to 0 by -1).map { j =>
      s"u$j" -> (if (j == 6) "l6"
                 else s"CASE WHEN l$j IS NULL THEN u${j + 1} WHEN u${j + 1} IS NULL THEN l$j ELSE u${j + 1} + l$j END")
    }
    val avg = Seq(
      "mov_sum" -> "u0",
      "mov_avg" -> "u0 / CAST(n AS DOUBLE)")
    // squared deviations from the double avg, oldest→newest
    val d = (6 to 0 by -1).map { j =>
      val sq = s"((l$j - mov_avg) * (l$j - mov_avg))"
      s"d$j" -> (if (j == 6) s"CASE WHEN l6 IS NULL THEN NULL ELSE $sq END"
                 else s"CASE WHEN l$j IS NULL THEN d${j + 1} WHEN d${j + 1} IS NULL THEN $sq ELSE d${j + 1} + $sq END")
    }
    val std = Seq("mov_stddev" -> "sqrt(d0 / CAST(n AS DOUBLE))")
    // linear weighted avg: exact integer numerator, weight (n − j) so the
    // newest value (l0) carries n and the oldest present value carries 1
    val lwNum = (0 to 6)
      .map(j => s"(CASE WHEN l$j IS NULL THEN 0 ELSE (n - $j) * CAST(round(l$j * 1.0e6) AS BIGINT) END)")
      .mkString(" + ")
    val lw = Seq("mov_lwavg" -> s"CAST(2 * ($lwNum) AS DOUBLE) / (CAST(n * (n + 1) AS DOUBLE) * 1.0e6)")
    val e = (6 to 0 by -1).map { j =>
      s"e$j" -> (if (j == 6) "l6"
                 else s"CASE WHEN l$j IS NULL THEN e${j + 1} WHEN e${j + 1} IS NULL THEN l$j ELSE (l$j * 0.5e0) + (e${j + 1} * 0.5e0) END")
    }
    val sb = (6 to 0 by -1).flatMap { j =>
      if (j == 6)
        Seq(
          "s6" -> "l6",
          "b6" -> "CASE WHEN l6 IS NULL THEN NULL ELSE 0.0e0 END")
      else
        Seq(
          s"s$j" -> s"CASE WHEN l$j IS NULL THEN s${j + 1} WHEN s${j + 1} IS NULL THEN l$j ELSE (l$j * 0.5e0) + ((s${j + 1} + b${j + 1}) * 0.5e0) END",
          s"b$j" -> s"CASE WHEN l$j IS NULL THEN b${j + 1} WHEN s${j + 1} IS NULL THEN 0.0e0 ELSE ((s$j - s${j + 1}) * 0.25e0) + (b${j + 1} * 0.75e0) END")
    }
    val smooth = Seq("mov_ewma" -> "e0", "mov_holt" -> "s0")
    u ++ avg ++ d ++ std ++ lw ++ e ++ sb ++ smooth
  }

  private[graft] val basicCfg = Config(HOUR_MS, Some(S), Some(E))

  /** q143's bridge: q01's oracle SQL shared verbatim with the DSL agg-body
    * entry — the JSON-compiled run (QueryDsl.propSumAgg with interval
    * 3600000, start/end = this S/E) must hash-match the same oracle the
    * typed q01 pipeline matches. */
  private[queries] def basicOracleSql: String = series(oracle(basicCfg))

  /** q144's bridge: the same generated oracle with the purchase-rows
    * parent filter — the DSL query section must reproduce exactly the
    * WHERE this mirror applies. */
  private[queries] def purchaseOracleSql: String =
    series(oracle(basicCfg, rowFilterSql = Some("event_type = 'purchase'")))
  private val offsetCfg = Config(HOUR_MS, Some(S), Some(E), offsetMs = 900000L) // :15 grid
  private val denseBounds = (JAN_START_MS, JAN_START_MS + DAY_MS - 1)
  private val denseCfg = Config(60000L, Some(JAN_START_MS), Some(JAN_START_MS + DAY_MS))
  // every bucket of the dense grid between the bounds
  private val denseGrid = s"SELECT UNNEST(generate_series(${bucketSql(denseCfg, denseBounds._1.toString)}, " +
    s"${bucketSql(denseCfg, denseBounds._2.toString)}, ${denseCfg.intervalMs})) AS bucket_ms"

  // the calendar grids, each over stretched ranges; q06's monthly grid is
  // shared by st11
  private val monthCfg = ProportionalSum.calendar("month", Some(JAN_START_MS), Some(MAY_START_MS))
  private val quarterCfg = ProportionalSum.calendar("quarter", Some(JAN_START_MS), Some(1735689600000L))
  private val dayCfg = ProportionalSum.calendar("day", Some(JAN_START_MS), Some(MAY_START_MS))
  private val monthOffsetCfg =
    ProportionalSum.calendar("month", Some(JAN_START_MS), Some(MAY_START_MS), offsetMs = 6 * HOUR_MS)
  private val flowFields = Seq("rs", "re", "v")

  private val samplingCol: Column = (col("event_id") % 5).cast("double")
  private val samplingSql: String = "CAST(event_id % 5 AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_prop_sum_basic" -> (q(basicCfg) _),
    "q02_prop_sum_offset" -> (q(offsetCfg) _),
    // ES histogram `order` ({"_value": "desc"}) + `keyed` response parity
    // (ProportionalSumAggregationBuilder order/keyed fields): order_rank
    // makes the bucket order data-visible (the driver sorts rows before
    // hashing), key_str is the keyed-form object key (formatted UTC
    // timestamp). Single-partition window is safe here: series length is
    // bounded by (end-start)/interval regardless of data scale.
    "q01k_prop_sum_keyed" -> ((spark: SparkSession, dir: String) =>
      ProportionalSum.runSpec(Flows.df(spark, dir), ProportionalSum.Spec(flowFields, basicCfg,
        order = Seq(("_value", false)), keyFormat = Some(ProportionalSum.IsoKeyFormat)))),
    "q03_prop_sum_sampling" -> (q(basicCfg, sampling = Some(samplingCol)) _),
    "q04_prop_sum_grouped" -> (q(basicCfg, groupCols = Seq(col("event_type"))) _),
    // ES `terms` ordered by a SUB-AGGREGATION path ("order": {"total_value":
    // "desc"} under a terms parent — InternalOrder agg paths, inherited by
    // the reference via ProportionalSumAggregationBuilder.java:133; the
    // Drift UI's "top conversations by proportional bytes" sort): each
    // surviving parent bucket keeps its FULL nested proportional series,
    // but parent order and the size=3 truncation come from the child sum.
    // term_rank makes the parent order data-visible. The term totals are a
    // coordinator-sized frame (one row per term, like the ES reduce phase):
    // ranking windows over it and broadcasting it back are both tiny.
    "q11h_terms_order_subagg" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val series = q(basicCfg, groupCols = Seq(col("event_type")))(spark, dir)
      val totals = series.groupBy(col("event_type"))
        .agg(graft.functions.detsum.sumDet(col("value")).as("total_value"))
      val w = Window.orderBy(col("total_value").desc, col("event_type").asc)
      val top = totals
        .withColumn("term_rank", row_number().over(w).cast("long"))
        .filter(col("term_rank") <= 3)
        .select(col("event_type"), col("term_rank"), round(col("total_value"), 6).as("total_value"))
      series.join(broadcast(top), Seq("event_type"))
        .select(col("event_type"), col("term_rank"), col("total_value"),
          col("bucket_ms"), col("doc_count"), col("value"))
    }),
    // proportional_sum nested under a `filters` PARENT (the other parent
    // shape the ES histogram framework supports): each named predicate is an
    // independent bucket, so a flow matching several filters contributes a
    // full series row set to each — explode over the matched-filter array
    "q04b_prop_sum_filters_parent" -> ((spark: SparkSession, dir: String) => {
      val flows = Flows.df(spark, dir)
        .withColumn("fname", explode(array_compact(array(
          when(col("event_type") === "purchase", "purchases"),
          when(col("v") > 50.0, "high_value")))))
      ProportionalSum.run(flows, col("rs"), col("re"), col("v"), None, basicCfg, Seq(col("fname")))
    }),
    "q05_prop_sum_empty_buckets" -> (q(denseCfg, dense = Some(denseBounds)) _),
    // min_doc_count > 1: drop sparse buckets (Histogram.MIN_DOC_COUNT_FIELD)
    "q05b_prop_sum_min_doc_count" -> ((spark: SparkSession, dir: String) =>
      ProportionalSum.runSpec(Flows.df(spark, dir), ProportionalSum.Spec(flowFields, basicCfg, minDocCount = 15))),
    "q07_prop_sum_zero_duration" ->
      (q(Config(HOUR_MS), rowFilter = Some(col("event_id") % 7200 === 0)) _),
    // per-group dense fill: empty buckets materialize inside EACH terms
    // bucket, as the reference's sub-aggregation does
    "q05c_prop_sum_dense_grouped" -> ((spark: SparkSession, dir: String) =>
      ProportionalSum.runDense(
        Flows.df(spark, dir), col("rs"), col("re"), col("v"), None,
        denseCfg, Some(denseBounds), Some("event_type"))),
    // quarterly calendar buckets over year-long ranges
    "q06b_prop_sum_quarter" -> (q(quarterCfg, stretchDays = Some(360)) _),
    // monthly calendar buckets over month-scale (0..90 day) ranges
    "q06_prop_sum_calendar" -> (q(monthCfg, stretchDays = Some(90)) _),
    // sub-day calendar-unit spelling ("day" here; hour/minute/second are
    // spec-pinned to alias the fixed path under UTC) — DATE_FIELD_UNITS
    // accepts them and the reference pins tz=null, so they are fixed-width
    "q06d_prop_sum_calendar_day" -> (q(dayCfg, stretchDays = Some(10)) _),
    // calendar interval COMBINED with offset — the reference applies offset
    // inside every rounding (round(x - offset) + offset), so monthly buckets
    // shifted +6h start at 06:00 on the 1st
    "q06c_prop_sum_calendar_offset" -> (q(monthOffsetCfg, stretchDays = Some(90)) _),
    // ES missing-field semantics: a doc whose range or VALUE field is
    // absent contributes nothing — no bucket, no doc_count (the values
    // source's advanceExact miss skips it). Nulls are derived identically
    // in both engines; the oracle excludes those rows explicitly.
    "q07b_prop_sum_missing_fields" -> ((spark: SparkSession, dir: String) => {
      val flows = Flows.df(spark, dir)
        .withColumn("v", when(col("event_id") % 11 === 0, lit(null)).otherwise(col("v")))
        .withColumn("re", when(col("event_id") % 13 === 0, lit(null)).otherwise(col("re")))
      ProportionalSum.run(flows, col("rs"), col("re"), col("v"), None, basicCfg)
    }),
    // the values-source `missing` SUBSTITUTION (declareCommon,
    // ProportionalSumAggregationBuilder.java:102 — the ES multi-values
    // source's per-field missing): a doc whose VALUE field is absent
    // CONTRIBUTES with the substitute — coalesce at the values-source
    // boundary. Contrast q07b (the NO-missing default): there the same
    // rows contribute NOTHING (advanceExact skip), so q07c's doc_count
    // strictly exceeds q07b's on the same grid (spec-pinned).
    "q07c_prop_sum_missing_value" -> ((spark: SparkSession, dir: String) => {
      val flows = Flows.df(spark, dir)
        .withColumn("v", when(col("event_id") % 11 === 0, lit(null)).otherwise(col("v")))
      ProportionalSum.run(
        flows, col("rs"), col("re"), coalesce(col("v"), lit(25.0)), None, basicCfg)
    }),
    // LITERAL-FIDELITY MODE: the reference
    // collector's EXACT missing-field defaults
    // (ProportionalSumAggregator.java:139-170) as an opt-in bug-for-bug
    // audit — a missing range endpoint defaults to 0 (a missing-start row
    // becomes the epoch-anchored range [0, re], its huge duration diluting
    // every bucket ratio; a both-missing row becomes the zero-duration
    // [0, 0] range that the clamped bucket loop never visits on a
    // positive-start grid) and a missing VALUE becomes NaN, poisoning
    // every bucket sum it touches ([[ProportionalSum.aggregateLiteral]]).
    // A missing END alone would throw the collector's own "Start cannot
    // be after end!" (re-checked by Config.validate), so the
    // derivation nulls endpoints only in the collector-legal patterns.
    // The engine's DEFAULT stays q07b's skip / q07c's substitution.
    "q07d_prop_sum_literal" -> ((spark: SparkSession, dir: String) => {
      val flows = Flows.df(spark, dir)
        .withColumn("v", when(col("event_id") % 11 === 0 && col("rs") < lit(S + 3 * DAY_MS),
          lit(null)).otherwise(col("v")))
        .withColumn("rs", when(col("event_id") % 17 === 0 || col("event_id") % 19 === 0,
          lit(null)).otherwise(col("rs")))
        .withColumn("re", when(col("event_id") % 19 === 0, lit(null)).otherwise(col("re")))
      ProportionalSum.aggregateLiteral(ProportionalSum.explodeContrib(
        flows,
        coalesce(col("rs"), lit(0L)), coalesce(col("re"), lit(0L)),
        coalesce(col("v"), lit(Double.NaN)), None, basicCfg))
    }),
    // 3-level ES sub-aggregation tree: terms(event_type) →
    // date_histogram(doc day, keyed by the DOC's timestamp like the parent
    // histogram buckets docs) → proportional_sum(hourly) — the whole tree is
    // one groupBy with compound keys, so Catalyst still sees a single
    // partial-aggregated exchange.
    "q04c_prop_sum_nested_tree" -> ((spark: SparkSession, dir: String) => {
      val flows = Flows.df(spark, dir)
        .withColumn("doc_day", (floor(col("rs") / lit(DAY_MS)) * lit(DAY_MS)).cast("long"))
      ProportionalSum.run(flows, col("rs"), col("re"), col("v"), None, basicCfg,
        Seq(col("event_type"), col("doc_day")))
    }),
    // min_doc_count=0 with NO extended_bounds — the ES default gap-fill:
    // zero buckets materialize between the first and last populated bucket
    "q05d_prop_sum_gap_fill" -> ((spark: SparkSession, dir: String) =>
      ProportionalSum.runDense(
        flowsWithFilter(spark, dir, Some(col("event_id") % 3600 === 0)),
        col("rs"), col("re"), col("v"), None, Config(HOUR_MS), bounds = None)),
    // same operator, Structured Streaming execution (AvailableNow → memory
    // sink); result equals q01's batch histogram, so it shares that oracle
    "st01_prop_sum_stream" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.runToCompletion(spark, dir, basicCfg, "st01_mem")),
    // production collector shape: watermarked append mode — emits exactly
    // the buckets at or below the final watermark (max bucket − 2h;
    // eviction is NON-strict, empirically pinned by the StreamingSpec
    // probe); the oracle applies the same cutoff to the batch series
    "st07_prop_sum_append" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.runAppendMode(graft.streaming.FlowStream.flowSource(spark, dir),
        ProportionalSum.Spec(flowFields, basicCfg), 2 * HOUR_MS, "st07_mem")),
    // the Space-Saving sketch as a streaming aggregation: bounded sketch
    // state per group in the state store, exact when keys fit capacity —
    // shares q11c's exact oracle
    "st09_stream_topk" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.streamingTopK(spark, dir, "st09_mem")),
    // the quantile sketch as streaming state; the finished complete-mode
    // stream equals the batch sketch, so it shares q15b's exact DuckDB
    // mirror (aliases renamed) — StreamingSpec additionally pins the
    // streaming-vs-batch equality directly
    "st10_stream_quantile" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.streamingQuantiles(spark, dir, "st10_mem")),
    // calendar-interval (monthly) prop-sum through the always-on streaming
    // path — q06's series in watermarked append mode; the oracle applies
    // the st07 watermark cutoff to the batch series
    "st11_prop_sum_calendar" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.runAppendMode(
        Flows.stretched(graft.streaming.FlowStream.flowSource(spark, dir), 90),
        ProportionalSum.Spec(flowFields, monthCfg), 20 * DAY_MS, "st11_mem")),
    // ingest-time dedup on the document stream (state = distinct fingerprints)
    "st03_stream_dedup" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.streamingDedupCounts(spark, dir, "st03_mem")),
    // the always-on form: dedup state BOUNDED by an event-time watermark
    // (dropDuplicatesWithinWatermark) — duplicates share a derived ingest
    // time, so the counts stay exactly st03's while the state store drains
    // behind the watermark (StreamingSpec pins the bound; st03's state
    // grows with every distinct fingerprint forever)
    "st03b_stream_dedup_bounded" -> ((spark: SparkSession, dir: String) =>
      graft.streaming.FlowStream.streamingDedupBounded(spark, dir, "st03b_mem")),
    // ES pipeline aggregations over the series: derivative, cumulative_sum,
    // moving_fn. The moving/cumulative sums use the detsum recipe (exact
    // decimal over the frame) so window association order can't skew floats.
    "q08_derivative" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bucket_ms"))
      q(basicCfg)(spark, dir)
        .withColumn("deriv", col("value") - lag(col("value"), 1).over(w))
        // ES's derivative pipeline agg omits the first bucket (no predecessor)
        .filter(col("deriv").isNotNull)
        .select(col("bucket_ms"), col("value"), col("deriv"))
    }),
    // ES serial_diff pipeline agg: lag-k differencing (k=24 ⇒ day-over-day
    // change at hourly buckets); like derivative, leading buckets without a
    // lag-k predecessor are omitted
    "q08b_serial_diff" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bucket_ms"))
      q(basicCfg)(spark, dir)
        .withColumn("sdiff", col("value") - lag(col("value"), 24).over(w))
        .filter(col("sdiff").isNotNull)
        .select(col("bucket_ms"), col("value"), col("sdiff"))
    }),
    // ES `rate` agg (unit: second): the per-bucket proportional sum
    // normalized by bucket length — the bytes/sec series the Drift UI
    // actually charts. One deterministic scalar op on the detsum'd value.
    "q01r_prop_sum_rate" -> ((spark: SparkSession, dir: String) =>
      q(basicCfg)(spark, dir)
        .withColumn("rate_per_sec", col("value") / lit(basicCfg.intervalMs / 1000.0))),
    // ES `moving_percentiles` pipeline agg: exact percentile over a 7-bucket
    // sliding frame. The window runs AFTER aggregation over the bounded
    // bucket series (≤(end-start)/interval rows), like q08/q09.
    // ES `moving_fn` with the built-in MovingFunctions.max/min scripts
    // (window 7, the q09c frame) over the proportional-sum buckets — the
    // scripted sibling of moving_percentiles; max/min move no floating
    // point, so the outputs are the bucket values themselves (hash-exact
    // with no rounding discipline needed).
    "q09d_moving_fn" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bucket_ms")).rowsBetween(-6, 0)
      q(basicCfg)(spark, dir)
        .withColumn("mov_max", max(col("value")).over(w))
        .withColumn("mov_min", min(col("value")).over(w))
        .select(col("bucket_ms"), col("value"), col("mov_max"), col("mov_min"))
    }),
    // ES `moving_fn` — the REMAINING built-in MovingFunctions scripts
    // (q09d covers max/min): unweightedAvg, sum, stdDev, linearWeightedAvg,
    // ewma (α=0.5) and holt (α=0.5, β=0.25) over the same 7-bucket frame.
    // Every column is an unrolled scalar chain over the frame's lag columns
    // generated from ONE list of SQL strings ([[movFnSteps]]) rendered into
    // BOTH engines, so each IEEE double op runs in the identical order and
    // the unrounded outputs are bit-exact cross-engine (no decimal detour,
    // no rounding step). Accumulation order is oldest→newest, exactly the
    // iteration order of ES's MovingFunctions loops; the dyadic α/β make
    // the ewma/holt products exact halvings/quarterings (one rounded add
    // per step). Window shape: the frame's ≤7 lags live in the row, so the
    // whole computation is a projection over the q09 bucket series — the
    // coordinator-sized frame every moving_fn shares, nothing scales with
    // corpus size.
    "q09e_moving_fn_builtins" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.orderBy(col("bucket_ms"))
      var df = q(basicCfg)(spark, dir)
        .withColumn("n", count(lit(1)).over(wOrd.rowsBetween(-6, 0)))
        .withColumn("l0", col("value"))
      for (j <- 1 to 6) df = df.withColumn(s"l$j", lag(col("value"), j).over(wOrd))
      for ((name, sql) <- movFnSteps) df = df.withColumn(name, expr(sql))
      df.select(
        col("bucket_ms"), col("value"), col("mov_avg"), col("mov_sum"),
        col("mov_stddev"), col("mov_lwavg"), col("mov_ewma"), col("mov_holt"))
    }),
    "q09c_moving_percentiles" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bucket_ms")).rowsBetween(-6, 0)
      q(basicCfg)(spark, dir)
        .withColumn("moving_p50", round(expr("percentile(value, 0.5)").over(w), 6))
        .withColumn("moving_p90", round(expr("percentile(value, 0.9)").over(w), 6))
        .select(col("bucket_ms"), col("value"), col("moving_p50"), col("moving_p90"))
    }),
    "q09_cumulative_window" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val scaled = round(col("value") * lit(1.0e6)).cast(org.apache.spark.sql.types.DecimalType(27, 0))
      val cumW = Window.orderBy(col("bucket_ms")).rowsBetween(Window.unboundedPreceding, 0)
      val movW = Window.orderBy(col("bucket_ms")).rowsBetween(-6, 0)
      q(basicCfg)(spark, dir)
        .withColumn("cum_value", sum(scaled).over(cumW).cast("double") / lit(1.0e6))
        .withColumn(
          "moving_avg",
          round(sum(scaled).over(movW).cast("double") / lit(1.0e6) / count(lit(1)).over(movW), 6))
        .select(col("bucket_ms"), col("value"), col("cum_value"), col("moving_avg"))
    }),
    // RRD-style consolidation (what OpenNMS does to age time series):
    // re-aggregate the hourly histogram into daily slots. Proportional
    // allocation nests cleanly because hour-bucket overlaps sum to the
    // day-bucket overlap.
    "q51_rollup_daily" -> ((spark: SparkSession, dir: String) => {
      q(Config(HOUR_MS))(spark, dir)
        .groupBy((floor(col("bucket_ms") / lit(DAY_MS)) * lit(DAY_MS)).as("day_ms"))
        .agg(
          count(lit(1)).as("n_slots"),
          sum(col("doc_count")).as("slot_doc_count"),
          graft.functions.detsum.sumDet(col("value")).as("value"))
    }),
    // ES 8.x TSDB `time_series` + downsample shape: each series (dimension
    // key = event_type) keeps its own proportional series at the fine
    // resolution, then consolidates per (series, coarse 6h slot) into the
    // downsample document: min/max/sum (gauge metrics), the slot's LAST
    // value (the counter representative — arg_max by bucket time) and the
    // per-second rate (q01r's normalization at the slot width). Nesting is
    // q51's argument: hour-bucket overlaps sum to the slot overlap, so the
    // downsample is exact, not an approximation of re-aggregating raw flows.
    // Scale shape: one groupBy on (series, slot) over the already
    // bucket-sized series — the shuffle is series-keyed and bounded by
    // (n_series × n_slots), never by corpus size.
    "q51b_time_series_downsample" -> ((spark: SparkSession, dir: String) => {
      val slotMs = 6 * HOUR_MS
      q(basicCfg, groupCols = Seq(col("event_type")))(spark, dir)
        .groupBy(
          col("event_type"),
          (floor(col("bucket_ms") / lit(slotMs)) * lit(slotMs)).as("slot_ms"))
        .agg(
          count(lit(1)).as("n_hours"),
          sum(col("doc_count")).as("slot_doc_count"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"),
          graft.functions.detsum.sumDet(col("value")).as("v_sum"),
          expr("max_by(value, bucket_ms)").as("v_last"))
        .withColumn("rate_per_sec", col("v_sum") / lit(slotMs / 1000.0))
    }),
    "q18_topk_talkers" -> ((spark: SparkSession, dir: String) => {
      val exploded = ProportionalSum.explodeContrib(
        Flows.df(spark, dir), col("rs"), col("re"), col("v"), None, basicCfg)
      exploded
        .groupBy(col("user_id"))
        .agg(graft.functions.detsum.sumDet(col("__contrib")).as("total_value"))
        .orderBy(col("total_value").desc, col("user_id").asc)
        .limit(5)
    }),
    // The OpenNMS Drift UI's actual series shape: top-N talkers each get
    // their own proportional series, everyone else rolls into an "Other"
    // series (the plugin's agg under a terms parent + ES "sum_other_doc_count"
    // rollup). The top-N key set is tiny and BROADCASTS; the exploded rows
    // never shuffle to find their label.
    "q18b_topn_other_series" -> ((spark: SparkSession, dir: String) => {
      // materialized once: both the top-N computation and the labeled
      // aggregation consume it, and the explode is the heavy subtree
      val exploded = ProportionalSum.explodeContrib(
        Flows.df(spark, dir), col("rs"), col("re"), col("v"), None, basicCfg)
        .select(col("user_id"), col("bucket_ms"), col("__contrib"))
        .localCheckpoint(true)
      val top = exploded
        .groupBy(col("user_id"))
        .agg(graft.functions.detsum.sumDet(col("__contrib")).as("total_value"))
        .orderBy(col("total_value").desc, col("user_id").asc)
        .limit(5)
        .select(col("user_id"), lit(true).as("is_top"))
      val labeled = exploded.join(broadcast(top), Seq("user_id"), "left")
        .withColumn("series_key",
          when(col("is_top"), col("user_id").cast("string")).otherwise(lit("Other")))
      ProportionalSum.aggregate(labeled, Seq(col("series_key")))
    }))

  /** q07c's input: the null-derivation rows' value substituted by 25.0. */
  private[queries] val missingValueFlowsSql: String = Flows.sqlCteOver(
    """SELECT * REPLACE (
      |    CASE WHEN event_id % 11 = 0 THEN CAST(25.0 AS DOUBLE) ELSE v END AS v)""".stripMargin)

  // q18's per-user totals over the exploded contributions, top 5 first
  private val q18Top: String =
    s"""SELECT user_id, ${graft.functions.detsum.sumDetSql(contribSql)} AS total_value
       |FROM ovl GROUP BY user_id
       |ORDER BY total_value DESC, user_id ASC LIMIT 5""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q01_prop_sum_basic" -> series(oracle(basicCfg)),
    "q01k_prop_sum_keyed" ->
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, doc_count, value,
         |       CAST(ROW_NUMBER() OVER (ORDER BY value DESC, bucket_ms ASC) AS BIGINT) AS order_rank,
         |       strftime(epoch_ms(bucket_ms), '%Y-%m-%dT%H:%M:%S.%gZ') AS key_str
         |FROM agg""".stripMargin,
    "st01_prop_sum_stream" -> series(oracle(basicCfg)),
    // the finished stream equals the batch sketch, which is exact at this
    // cardinality — q11c's oracle verbatim
    "st09_stream_topk" -> EsAggQueries.oracleSql("q11c_terms_sketch"),
    // complete-mode AvailableNow over the whole table: the finished stream
    // IS the batch sketch (bin counts merge additively across triggers,
    // eval is deterministic given the multiset), so q15b's exact DuckDB
    // bin/cumsum/interpolation mirror applies verbatim — only the output
    // aliases differ
    "st10_stream_quantile" -> EsAggQueries.oracleSql("q15b_percentiles_sketch")
      .replace("AS p50_sketch", "AS p50").replace("AS p95_sketch", "AS p95"),
    "st07_prop_sum_append" -> untilWatermark(oracle(basicCfg), 2 * HOUR_MS),
    "st03_stream_dedup" ->
      """SELECT source,
        |       COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin,
    // identical oracle by construction: duplicates of a fingerprint share
    // ONE derived event time, so within-watermark dedup == global dedup
    "st03b_stream_dedup_bounded" ->
      """SELECT source,
        |       COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin,
    "q05b_prop_sum_min_doc_count" ->
      s"${series(oracle(basicCfg))} WHERE doc_count >= 15",
    "q51_rollup_daily" ->
      s"""${oracle(Config(HOUR_MS))}
         |SELECT CAST(floor(bucket_ms / $DAY_MS) AS BIGINT) * $DAY_MS AS day_ms,
         |       COUNT(*) AS n_slots,
         |       CAST(SUM(doc_count) AS BIGINT) AS slot_doc_count,
         |       ${graft.functions.detsum.sumDetSql("value")} AS value
         |FROM agg GROUP BY day_ms""".stripMargin,
    "q08_derivative" ->
      s"""${oracle(basicCfg)}
         |SELECT * FROM (
         |  SELECT bucket_ms, value,
         |         value - lag(value) OVER (ORDER BY bucket_ms) AS deriv
         |  FROM agg
         |) WHERE deriv IS NOT NULL""".stripMargin,
    "q08b_serial_diff" ->
      s"""${oracle(basicCfg)}
         |SELECT * FROM (
         |  SELECT bucket_ms, value,
         |         value - lag(value, 24) OVER (ORDER BY bucket_ms) AS sdiff
         |  FROM agg
         |) WHERE sdiff IS NOT NULL""".stripMargin,
    "q09_cumulative_window" -> {
      val scaled = "CAST(round(value * 1.0e6) AS DECIMAL(27,0))"
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, value,
         |       CAST(SUM($scaled) OVER (ORDER BY bucket_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1.0e6 AS cum_value,
         |       round(CAST(SUM($scaled) OVER (ORDER BY bucket_ms ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1.0e6
         |             / COUNT(*) OVER (ORDER BY bucket_ms ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS moving_avg
         |FROM agg""".stripMargin
    },
    "q01r_prop_sum_rate" ->
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, doc_count, value,
         |       value / ${basicCfg.intervalMs / 1000.0} AS rate_per_sec
         |FROM agg""".stripMargin,
    "q09c_moving_percentiles" -> {
      val frame = "ORDER BY bucket_ms ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, value,
         |       round(quantile_cont(value, 0.5) OVER ($frame), 6) AS moving_p50,
         |       round(quantile_cont(value, 0.9) OVER ($frame), 6) AS moving_p90
         |FROM agg""".stripMargin
    },
    "q09d_moving_fn" -> {
      val frame = "ORDER BY bucket_ms ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, value,
         |       max(value) OVER ($frame) AS mov_max,
         |       min(value) OVER ($frame) AS mov_min
         |FROM agg""".stripMargin
    },
    "q09e_moving_fn_builtins" -> {
      val lags = (1 to 6)
        .map(j => s"lag(value, $j) OVER (ORDER BY bucket_ms) AS l$j")
        .mkString(", ")
      val base =
        "SELECT bucket_ms, value, value AS l0, " + lags +
          ", COUNT(*) OVER (ORDER BY bucket_ms ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n FROM agg"
      val chained = movFnSteps.foldLeft(base) { case (inner, (name, sqlExpr)) =>
        s"SELECT *, $sqlExpr AS $name FROM ($inner)"
      }
      s"""${oracle(basicCfg)}
         |SELECT bucket_ms, value, mov_avg, mov_sum, mov_stddev, mov_lwavg, mov_ewma, mov_holt
         |FROM ($chained)""".stripMargin
    },
    "q51b_time_series_downsample" -> {
      val slotMs = 6 * HOUR_MS
      s"""${oracle(basicCfg, groupCols = Seq("event_type"))}
         |SELECT *, v_sum / ${slotMs / 1000.0} AS rate_per_sec FROM (
         |  SELECT event_type,
         |         CAST(floor(bucket_ms / $slotMs) AS BIGINT) * $slotMs AS slot_ms,
         |         COUNT(*) AS n_hours,
         |         CAST(SUM(doc_count) AS BIGINT) AS slot_doc_count,
         |         MIN(value) AS v_min, MAX(value) AS v_max,
         |         ${graft.functions.detsum.sumDetSql("value")} AS v_sum,
         |         arg_max(value, bucket_ms) AS v_last
         |  FROM agg GROUP BY event_type, slot_ms
         |)""".stripMargin
    },
    "q02_prop_sum_offset" -> series(oracle(offsetCfg)),
    "q03_prop_sum_sampling" -> series(oracle(basicCfg, samplingSql = Some(samplingSql))),
    "q04_prop_sum_grouped" -> series(oracle(basicCfg, groupCols = Seq("event_type"))),
    "q11h_terms_order_subagg" ->
      s"""${oracle(basicCfg, groupCols = Seq("event_type"))},
         |totals AS (
         |  SELECT event_type, ${graft.functions.detsum.sumDetSql("value")} AS total_value
         |  FROM agg GROUP BY event_type
         |),
         |top AS (
         |  SELECT * FROM (
         |    SELECT event_type,
         |           CAST(ROW_NUMBER() OVER (ORDER BY total_value DESC, event_type ASC) AS BIGINT) AS term_rank,
         |           round(total_value, 6) AS total_value
         |    FROM totals
         |  ) WHERE term_rank <= 3
         |)
         |SELECT agg.event_type AS event_type, term_rank, total_value, bucket_ms, doc_count, value
         |FROM agg JOIN top ON agg.event_type = top.event_type""".stripMargin,
    // each flow once per named filter it matches
    "q04b_prop_sum_filters_parent" -> series(oracle(basicCfg, groupCols = Seq("fname"),
      flows = Flows.sqlCteOver(
        """SELECT *, UNNEST(list_filter([
          |    CASE WHEN event_type = 'purchase' THEN 'purchases' END,
          |    CASE WHEN v > 50.0 THEN 'high_value' END], x -> x IS NOT NULL)) AS fname""".stripMargin))),
    // null v (id%11=0) and null re (id%13=0) rows contribute nothing — the
    // oracle simply excludes them before aggregating
    "q07b_prop_sum_missing_fields" ->
      series(oracle(basicCfg, rowFilterSql = Some("event_id % 11 <> 0 AND event_id % 13 <> 0"))),
    // the `missing` SUBSTITUTION mirror: the same null-derivation rows
    // contribute v := 25.0 instead of dropping (q07c ↔ q07b contrast)
    "q07c_prop_sum_missing_value" -> series(oracle(basicCfg, flows = missingValueFlowsSql)),
    // the LITERAL-fidelity mirror: endpoint→0 / value→NaN defaults, with
    // the collector's IEEE NaN propagation spelled as the explicit
    // any-NaN poison over the masked exact sum (x + NaN = NaN ∀x)
    "q07d_prop_sum_literal" -> {
      val literal = Flows.sqlCteOver(
        s"""SELECT * REPLACE (
           |    CASE WHEN event_id % 11 = 0 AND rs < ${S + 3 * DAY_MS} THEN 'NaN'::DOUBLE ELSE v END AS v,
           |    CASE WHEN event_id % 17 = 0 OR event_id % 19 = 0 THEN 0 ELSE rs END AS rs,
           |    CASE WHEN event_id % 19 = 0 THEN 0 ELSE re END AS re)""".stripMargin)
      val masked = graft.functions.detsum.sumDetSql(s"CASE WHEN isnan(eff_v) THEN 0.0 ELSE ($contribSql) END")
      s"""${oracle(basicCfg, flows = literal)}
         |SELECT bucket_ms, COUNT(*) AS doc_count,
         |       CASE WHEN MAX(CASE WHEN isnan(eff_v) THEN 1 ELSE 0 END) = 1 THEN 'NaN'::DOUBLE
         |            ELSE $masked
         |       END AS value
         |FROM ovl GROUP BY bucket_ms""".stripMargin
    },
    "q04c_prop_sum_nested_tree" -> series(oracle(basicCfg, groupCols = Seq("event_type", "doc_day"),
      flows = Flows.sqlCteOver(s"SELECT *, CAST(floor(rs / $DAY_MS) AS BIGINT) * $DAY_MS AS doc_day"))),
    "q05_prop_sum_empty_buckets" -> filled(oracle(denseCfg), denseGrid),
    "q07_prop_sum_zero_duration" ->
      series(oracle(Config(HOUR_MS), rowFilterSql = Some("event_id % 7200 = 0"))),
    "q05c_prop_sum_dense_grouped" -> filled(oracle(denseCfg, groupCols = Seq("event_type")),
      s"""SELECT t.event_type, b.bucket_ms
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN ($denseGrid) b""".stripMargin, Seq("event_type")),
    // the fill's bounds are the first and last populated bucket
    "q05d_prop_sum_gap_fill" -> filled(
      s"""${oracle(Config(HOUR_MS), rowFilterSql = Some("event_id % 3600 = 0"))},
         |bounds AS (SELECT MIN(bucket_ms) AS lo, MAX(bucket_ms) AS hi FROM agg)""".stripMargin,
      s"""SELECT UNNEST(generate_series(lo, hi, $HOUR_MS)) AS bucket_ms
         |  FROM bounds WHERE lo IS NOT NULL""".stripMargin),
    "q06_prop_sum_calendar" -> series(oracle(monthCfg, flows = Flows.stretchedSqlCte(90))),
    "q06b_prop_sum_quarter" -> series(oracle(quarterCfg, flows = Flows.stretchedSqlCte(360))),
    "q06c_prop_sum_calendar_offset" -> series(oracle(monthOffsetCfg, flows = Flows.stretchedSqlCte(90))),
    "q06d_prop_sum_calendar_day" -> series(oracle(dayCfg, flows = Flows.stretchedSqlCte(10))),
    // st11 = q06's batch series with the st07 watermark cutoff applied: the
    // final watermark is max(bucket) − delay exactly, eviction non-strict
    "st11_prop_sum_calendar" -> untilWatermark(oracle(monthCfg, flows = Flows.stretchedSqlCte(90)), 20 * DAY_MS),
    // per-user totals over the exploded contributions, not per bucket
    "q18_topk_talkers" -> s"${oracle(basicCfg, groupCols = Seq("user_id"))}\n$q18Top",
    // the same contributions labeled by membership in q18's top-5 set
    "q18b_topn_other_series" ->
      s"""${oracle(basicCfg, groupCols = Seq("user_id"))},
         |top AS (
         |  SELECT user_id FROM (
         |    $q18Top
         |  )
         |)
         |SELECT CASE WHEN user_id IN (SELECT user_id FROM top)
         |            THEN CAST(user_id AS VARCHAR) ELSE 'Other' END AS series_key,
         |       bucket_ms, COUNT(*) AS doc_count, ${graft.functions.detsum.sumDetSql(contribSql)} AS value
         |FROM ovl GROUP BY 1, 2""".stripMargin)

}
