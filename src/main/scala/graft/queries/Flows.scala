package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived flow records over the `events` table.
  *
  * The reference operates on netflow documents carrying a time RANGE
  * (`first_switched`/`last_switched`) plus a value; the synthetic `events`
  * table only has a point timestamp, so queries derive a deterministic range:
  * `range_start = ts` (epoch millis) and
  * `range_end = range_start + (event_id % 7200) * 1000` (0..2h durations,
  * including zero-duration flows, which the reference special-cases).
  *
  * The SQL fragment below is the DuckDB mirror of the DataFrame derivation —
  * keep the two in lockstep; every flow-query oracle builds on it. Millis are
  * obtained by floor-division of micros in both engines, so the derived
  * inputs are bit-identical.
  */
object Flows {

  def df(spark: SparkSession, sfDir: String): DataFrame =
    // spread the explode/bucket work over the cores
    Tables.spread(Tables(spark, sfDir, "events"), "event_id")
      .select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      col("value").as("v"),
      expr("unix_micros(ts) DIV 1000").as("rs"),
      (expr("unix_micros(ts) DIV 1000") + (col("event_id") % 7200) * 1000).as("re"))

  /** DuckDB SELECT equivalent to [[df]] (tables are registered by bare name). */
  private val sqlRows: String =
    """SELECT event_id, user_id, event_type, value AS v,
      |         epoch_ms(ts) AS rs,
      |         epoch_ms(ts) + (event_id % 7200) * 1000 AS re
      |  FROM events""".stripMargin

  /** DuckDB CTE body equivalent to [[df]]. */
  val sqlCte: String = s"flows AS (\n  $sqlRows\n)"

  /** A `flows` CTE whose rows derive from [[sqlCte]]'s: `select` is a
    * SELECT clause, without FROM, over them. */
  def sqlCteOver(select: String): String = s"flows AS (\n  $select\n  FROM ($sqlRows) base\n)"

  /** Flows whose range end is stretched to 0..days-1 whole days, so the
    * ranges span calendar buckets (the events alone cover only January). */
  def stretched(flows: DataFrame, days: Int): DataFrame =
    flows.withColumn("re", col("rs") + (col("event_id") % days) * lit(DAY_MS))

  /** DuckDB CTE body equivalent to [[stretched]] over [[df]]. */
  def stretchedSqlCte(days: Int): String =
    sqlCteOver(s"SELECT * REPLACE (rs + (event_id % $days) * $DAY_MS AS re)")

  /** 2024-01-01T00:00:00Z, where the events table's span starts. */
  val JAN_START_MS: Long = 1704067200000L
  val MAY_START_MS: Long = 1714521600000L
  val HOUR_MS: Long = 3600000L
  val DAY_MS: Long = 86400000L
}
