package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference engine's `proportional_sum`
  * aggregation (see /root/reference/es-8.18.2/src/main/java/org/opennms/
  * elasticsearch/plugin/aggregations/bucket/histogram/
  * ProportionalSumAggregator.java:136-228).
  *
  * Semantics: each input row carries a time range `[rangeStart, rangeEnd]`
  * (epoch millis) and a value. Time is bucketed by a fixed `intervalMs` or
  * a calendar unit (shifted by `offsetMs`); the row's value is credited to
  * every bucket it overlaps, proportionally to
  * `overlap(bucket, range) / duration(range)`.
  * A zero-duration range contributes its full value to its single bucket
  * (ProportionalSumAggregator.java:198-200). Optional `startMs`/`endMs`
  * clamp WHICH buckets are emitted, but ratios keep using the unclamped
  * range (ProportionalSumAggregator.java:183-186). An optional sampling
  * column multiplies the value when finite and non-zero
  * (ProportionalSumAggregator.java:171-180). Every overlapped bucket counts
  * the row in `doc_count`, even when the time overlap is zero at the closed
  * upper end (ProportionalSumAggregator.java:190, 206-214).
  *
  * Design (Spark-first, NOT a port): instead of the reference's per-shard
  * imperative collector + coordinator reduce, we express the whole thing
  * declaratively — `explode(sequence(firstBucket, lastBucket, interval))`
  * followed by `groupBy(bucket).agg(...)`. Catalyst then gives us column
  * pruning / filter pushdown on the scan, whole-stage codegen for the
  * bucket math, and map-side partial aggregation so only (group, bucket)
  * partial sums cross the shuffle — the distributed equivalent of the ES
  * shard-level pre-aggregation. Bucket cardinality is bounded by
  * `(end-start)/interval`, not by input rows, so this holds at 100 TB.
  */
object ProportionalSum {

  /** Mirrors ProportionalSumAggregationBuilder's knobs. The grid is fixed
    * (`intervalMs`) unless `calendarUnit` names a calendar unit (the
    * reference's `dateHistogramInterval` form,
    * ProportionalSumAggregationBuilder:104-116), in which case `intervalMs`
    * is unused. `offsetMs` shifts either grid, as the reference applies it
    * inside every rounding — `round(x - offset) + offset`
    * (ProportionalSumAggregator.java:183-186).
    * `validate=true` reproduces the reference's hard failures on negative
    * range starts/ends and start-after-end rows
    * (ProportionalSumAggregator.java:143-159); off by default because the
    * derived test flows are valid by construction and the branch costs a
    * per-row check. */
  final case class Config(
      intervalMs: Long,
      startMs: Option[Long] = None,
      endMs: Option[Long] = None,
      offsetMs: Long = 0L,
      validate: Boolean = false,
      calendarUnit: Option[String] = None) {
    require(calendarUnit.isDefined || intervalMs > 0, s"interval must be positive, got $intervalMs")
    calendarUnit.foreach(u => require(calendarSteps.contains(u.toLowerCase), s"unsupported calendar unit: $u"))
  }

  /** A calendar-grid Config (the fixed width is unused there). */
  def calendar(unit: String, startMs: Option[Long], endMs: Option[Long], offsetMs: Long = 0L): Config =
    Config(0L, startMs, endMs, offsetMs, calendarUnit = Some(unit))

  /** Step of each calendar unit: any unit Spark's date_trunc + interval
    * arithmetic supports ("week", "month", "quarter", "year") — the
    * reference accepts the full DateHistogramInterval family. The sub-day
    * units of the reference's DATE_FIELD_UNITS family
    * (ProportionalSumAggregationBuilder.java:78-97) are fixed-width under
    * the pinned UTC session (tz hard-disabled by the reference —
    * builder:434,492-493) and alias the fixed grid, but the builder accepts
    * the calendar spelling, so this grid must too. */
  private val calendarSteps: Map[String, String] = Map(
    "week" -> "INTERVAL 7 DAY",
    "month" -> "INTERVAL 1 MONTH",
    "quarter" -> "INTERVAL 3 MONTH",
    "year" -> "INTERVAL 1 YEAR",
    "day" -> "INTERVAL 1 DAY",
    "hour" -> "INTERVAL 1 HOUR",
    "minute" -> "INTERVAL 1 MINUTE",
    "second" -> "INTERVAL 1 SECOND")

  /** value scaled by the sampling multiplier when finite and non-zero
    * (ProportionalSumAggregator.java:171-180, SamplingIT). */
  def effectiveValue(value: Column, sampling: Option[Column]): Column =
    sampling match {
      case None => value
      case Some(s) =>
        when(
          s.isNotNull && !isnan(s) && s =!= 0.0d &&
            s =!= Double.PositiveInfinity && s =!= Double.NegativeInfinity,
          value * s
        ).otherwise(value)
    }

  /** Floor `x` to the fixed grid: floor((x - offset) / interval) * interval + offset.
    * Double division then floor — bit-compatible with the DuckDB oracle SQL. */
  private def roundToBucket(x: Column, cfg: Config): Column = {
    val shifted = if (cfg.offsetMs == 0L) x else x - lit(cfg.offsetMs)
    val floored = floor(shifted / lit(cfg.intervalMs)) * lit(cfg.intervalMs)
    if (cfg.offsetMs == 0L) floored else floored + lit(cfg.offsetMs)
  }

  /** One output row per (input row, overlapped bucket): adds
    * `bucket_ms` (bucket start, epoch millis) and `__contrib` (this row's
    * proportional value share in that bucket). All other input columns pass
    * through untouched, so callers can group by arbitrary dimensions.
    *
    * Only the bucket rounding differs by grid: the fixed grid floors a
    * double division, the calendar grid `date_trunc`s and steps by the
    * unit, so its buckets vary in width; the overlap and ratio math is the
    * same on the bucket-boundary epoch millis. */
  def explodeContrib(
      df: DataFrame,
      rangeStartMs: Column,
      rangeEndMs: Column,
      value: Column,
      sampling: Option[Column],
      cfg: Config): DataFrame = {
    val clampS = cfg.startMs.map(s => greatest(rangeStartMs, lit(s))).getOrElse(rangeStartMs)
    val clampE = cfg.endMs.map(e => least(rangeEndMs, lit(e))).getOrElse(rangeEndMs)
    val rs =
      if (!cfg.validate) rangeStartMs.cast("long")
      else when(rangeStartMs < 0L, raise_error(concat(lit("Invalid range start: "), rangeStartMs)))
        .otherwise(rangeStartMs).cast("long")
    val re =
      if (!cfg.validate) rangeEndMs.cast("long")
      else when(rangeEndMs < 0L, raise_error(concat(lit("Invalid range end: "), rangeEndMs)))
        .when(rangeEndMs < rangeStartMs,
          raise_error(concat(lit("Start cannot be after end! start: "), rangeStartMs, lit(" end: "), rangeEndMs)))
        .otherwise(rangeEndMs).cast("long")
    val v = effectiveValue(value, sampling)
    // first/last bucket of the clamped range, the sequence step, and the
    // bucket's start and end in epoch millis from the exploded `__b`
    val (first, last, step, bucketMs, nextMs) = cfg.calendarUnit match {
      case None =>
        val itv = lit(cfg.intervalMs)
        (roundToBucket(clampS, cfg), roundToBucket(clampE, cfg), itv, col("__b"), col("__b") + itv)
      case Some(unit) =>
        val stepSql = calendarSteps(unit.toLowerCase)
        val off = lit(cfg.offsetMs)
        (date_trunc(unit, timestamp_millis(clampS - off)), date_trunc(unit, timestamp_millis(clampE - off)),
          expr(stepSql), expr("unix_micros(__b) DIV 1000") + off,
          expr(s"unix_micros(__b + $stepSql) DIV 1000") + off)
    }
    val dur = col("__re") - col("__rs")
    df
      // ES skips any doc missing one of the agg's fields (the values-source
      // advanceExact miss): null range or value ⇒ no buckets, no doc_count.
      // Rows whose (clamped) bucket range is empty never enter the
      // reference's bucket loop (ProportionalSumAggregator.java:189-190).
      .filter(rs.isNotNull && re.isNotNull && v.isNotNull && first <= last)
      .select(col("*"), rs.as("__rs"), re.as("__re"), v.as("__val"),
        explode(sequence(first, last, step)).as("__b"))
      // getTimeInWindow (ProportionalSumAggregator.java:222-228): overlap of
      // [bucket, next bucket) with the UNCLAMPED range, floored at 0
      .select(col("*"), bucketMs.as("bucket_ms"),
        when(dur === 0L, col("__val"))
          .otherwise(col("__val") *
            (greatest(lit(0L), least(nextMs, col("__re")) - greatest(bucketMs, col("__rs"))) / dur))
          .as("__contrib"))
  }

  /** Aggregate exploded contributions into histogram buckets, optionally per
    * group (the reference's sub-aggregation-under-`terms` shape).
    *
    * Summation goes through [[graft.functions.detsum]]: per-row terms are
    * bit-identical across engines and the sum is exact-decimal, so the final
    * double is deterministic under any partitioning — both for the DuckDB
    * oracle and across cluster sizes. */
  def aggregate(exploded: DataFrame, groupCols: Seq[Column] = Nil): DataFrame =
    exploded
      .groupBy((groupCols :+ col("bucket_ms")): _*)
      .agg(
        count(lit(1)).as("doc_count"),
        graft.functions.detsum.sumDet(col("__contrib")).as("value"))

  /** The LITERAL-FIDELITY aggregate (the opt-in bug-for-bug audit mode):
    * the reference collector treats a missing VALUE as NaN
    * (ProportionalSumAggregator.java:166-170), so a single missing-value
    * doc POISONS every bucket sum it touches through IEEE += propagation.
    * [[graft.functions.detsum.sumDet]]'s fast path rejects NaN by design
    * (a NaN reaching the scaled-long cast would silently become 0), so
    * the propagation is mirrored EXPLICITLY: an any-NaN poison mask over
    * the exact sum of the non-NaN contributions — bit-identical to the
    * collector's result, since x + NaN = NaN regardless of x. Callers
    * feed the literal defaults (missing endpoint → 0, missing value →
    * NaN) at the values-source boundary; the engine's DEFAULT semantics
    * (values-source skip / `missing` substitution) stay on [[aggregate]]. */
  def aggregateLiteral(exploded: DataFrame, groupCols: Seq[Column] = Nil): DataFrame =
    exploded
      .groupBy((groupCols :+ col("bucket_ms")): _*)
      .agg(
        count(lit(1)).as("doc_count"),
        max(when(isnan(col("__contrib")), 1).otherwise(0)).as("__nan"),
        graft.functions.detsum.sumDet(
          when(isnan(col("__contrib")), lit(0.0)).otherwise(col("__contrib"))).as("__s"))
      .withColumn("value",
        when(col("__nan") === 1, lit(Double.NaN)).otherwise(col("__s")))
      .drop("__nan", "__s")

  /** explodeContrib + aggregate in one call. */
  def run(
      df: DataFrame,
      rangeStartMs: Column,
      rangeEndMs: Column,
      value: Column,
      sampling: Option[Column] = None,
      cfg: Config,
      groupCols: Seq[Column] = Nil): DataFrame =
    aggregate(explodeContrib(df, rangeStartMs, rangeEndMs, value, sampling, cfg), groupCols)

  /** `min_doc_count=0`: every grid bucket between the bounds appears,
    * zero-filled when empty (InternalProportionalSumHistogram.EmptyBucketInfo).
    * `bounds` given is `extended_bounds`; without them the bounds are the
    * first and last POPULATED bucket — the ES default, whose reduce pass
    * calls addEmptyBuckets over [minKey, maxKey]. Those bounds come from the
    * aggregate itself, declaratively — a 1-row min/max explodes into the
    * grid, no driver round-trip — and the populated aggregate (bounded by
    * bucket count, not input rows) is broadcast into the fill join. With a
    * group column (given bounds only) the reference fills empty buckets
    * inside each terms parent bucket independently: the grid is (distinct
    * groups × bucket range), broadcast-joined against the aggregate. Fixed
    * grid only. */
  def runDense(
      df: DataFrame,
      rangeStartMs: Column,
      rangeEndMs: Column,
      value: Column,
      sampling: Option[Column],
      cfg: Config,
      bounds: Option[(Long, Long)],
      groupCol: Option[String] = None): DataFrame = {
    require(cfg.calendarUnit.isEmpty, "the empty-bucket fill takes the fixed interval form")
    require(bounds.isDefined || groupCol.isEmpty, "a grouped fill needs explicit bounds")
    val agg = run(df, rangeStartMs, rangeEndMs, value, sampling, cfg, groupCol.map(col).toSeq)
    val itv = lit(cfg.intervalMs)
    val (buckets, filled) = bounds match {
      case Some((lo, hi)) =>
        (df.sparkSession.range(1).select(explode(sequence(
          roundToBucket(lit(lo), cfg), roundToBucket(lit(hi), cfg), itv)).as("bucket_ms")), agg)
      case None =>
        // localCheckpoint, not persist: the result is referenced twice
        // (bounds scan + fill join) but a persist() here would pin cached
        // blocks for the session lifetime with no unpersist hook once this
        // returns — checkpointed RDD blocks are instead freed by the
        // ContextCleaner when the returned frame is dereferenced
        val once = agg.localCheckpoint(true)
        (once
          .agg(min(col("bucket_ms")).as("__lo"), max(col("bucket_ms")).as("__hi"))
          .filter(col("__lo").isNotNull) // empty input -> empty histogram
          .select(explode(sequence(col("__lo"), col("__hi"), itv)).as("bucket_ms")),
          broadcast(once))
    }
    val grid = groupCol match {
      case Some(g) => broadcast(df.select(col(g)).distinct().crossJoin(buckets))
      case None => buckets
    }
    grid
      .join(filled, groupCol.toSeq :+ "bucket_ms", "left")
      .select(groupCol.map(col).toSeq ++ Seq(
        col("bucket_ms"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        coalesce(col("value"), lit(0.0d)).as("value")): _*)
  }

  /** A whole proportional_sum request as the reference's builder reads it
    * (ProportionalSumAggregationBuilder.java:96-144): the fields by name
    * (start, end, value and an optional sampling column), the grid, and
    * what the bucket list keeps and shows — `min_doc_count`,
    * `extended_bounds` (the dense fill), `order` as (path, ascending)
    * entries over `_key`/`_count`/`_value`, the `keyed` response's key
    * format, and per-field `missing` substitutes. */
  final case class Spec(
      fields: Seq[String],
      cfg: Config,
      minDocCount: Long = 0L,
      extendedBounds: Option[(Long, Long)] = None,
      order: Seq[(String, Boolean)] = Nil,
      keyFormat: Option[String] = None,
      missing: Seq[(String, Double)] = Nil)

  /** The keyed response's default object-key pattern (UTC). */
  val IsoKeyFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** `spec`'s fields as (start, end, value, sampling) columns of `df`. */
  def specColumns(df: DataFrame, spec: Spec): (Column, Column, Column, Option[Column]) = {
    spec.fields.foreach(f => require(df.columns.contains(f),
      s"unknown flow field '$f' (have: ${df.columns.mkString(", ")})"))
    (col(spec.fields(0)), col(spec.fields(1)), col(spec.fields(2)), spec.fields.lift(3).map(col))
  }

  /** Runs `spec` over `df`, per group when `groupCols` is given, and
    * presents the bucket list:
    *   - `missing` coalesces a value/sampling field at the values-source
    *     boundary, so a doc missing it contributes the substitute;
    *   - `min_doc_count` drops sparse buckets;
    *   - an `order` other than `[_key asc]` ranks buckets into the
    *     data-visible `order_rank` (bucket order must be a column to be
    *     checkable, since rows are sorted before hashing), over the order
    *     paths with `bucket_ms asc` as the total tiebreak;
    *   - `keyed` renders the object key as `key_str`;
    *   - `[_key asc]` sorts the bucket list in one partition.
    * The bucket list is bounded by the grid, never by data size, so the
    * single-partition window and sort need no range-partitioning exchange. */
  def runSpec(df: DataFrame, spec: Spec, groupCols: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spec.extendedBounds.isEmpty || groupCols.isEmpty, "extended_bounds takes no group")
    val (s, e, v, sampling) = specColumns(df, spec)
    val flows = spec.missing.foldLeft(df) { case (d, (f, m)) => d.withColumn(f, coalesce(col(f), lit(m))) }
    val series = spec.extendedBounds match {
      case Some(b) => runDense(flows, s, e, v, sampling, spec.cfg, Some(b))
      case None => run(flows, s, e, v, sampling, spec.cfg, groupCols)
    }
    val kept = if (spec.minDocCount > 0) series.filter(col("doc_count") >= spec.minDocCount) else series
    val keyAsc = spec.order == Seq(("_key", true))
    val ranked =
      if (spec.order.isEmpty || keyAsc) kept
      else {
        val paths = Map("_key" -> "bucket_ms", "_count" -> "doc_count", "_value" -> "value")
        val sortCols = spec.order.map { case (p, asc) => if (asc) col(paths(p)).asc else col(paths(p)).desc }
        kept.withColumn("order_rank",
          row_number().over(Window.orderBy((sortCols :+ col("bucket_ms").asc): _*)).cast("long"))
      }
    val keyed = spec.keyFormat.fold(ranked)(fmt =>
      ranked.withColumn("key_str", date_format(timestamp_millis(col("bucket_ms")), fmt)))
    if (keyAsc) keyed.coalesce(1).sortWithinPartitions(col("bucket_ms").asc) else keyed
  }
}
