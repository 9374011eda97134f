package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** User-session assembly from the event stream: a session ends when the gap
  * to the next event exceeds `gapMs`.
  *
  * Batch form ([[batchSessions]]) is pure window functions — this is what the
  * oracle checks. Streaming form ([[statefulSessions]]) keeps per-user state
  * with `flatMapGroupsWithState`, emitting each session as it closes — state
  * per key is O(1) (just the open session), so it scales to any key count. */
object Sessionize {

  case class Ev(user_id: Long, event_id: Long, ms: Long, value: Double)
  /** Sum is accumulated as a scaled long (value rounded at 1e10) so the
    * emitted double equals graft.functions.detsum exactly — the streaming
    * result stays hash-comparable to the batch oracle. */
  case class SessionState(startMs: Long, lastMs: Long, n: Int, sumScaled: Long)
  case class Session(user_id: Long, session_start_ms: Long, session_end_ms: Long, n_events: Long, sum_value: Double)

  private val Factor = 1.0e10
  // HALF_UP via the canonical detsum helper — math.round is
  // half-toward-+inf, which differs for
  // negative values landing exactly on .5 at this scale
  private def scaled(v: Double): Long =
    graft.functions.detsum.roundHalfUpLong(v * Factor)

  /** Batch sessionization: session boundary where gap from previous event
    * exceeds gapMs; session id = running count of boundaries. */
  def batchSessions(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session", (col("prev_ms").isNull || (col("ms") - col("prev_ms") > gapMs)).cast("int"))
      .withColumn("session_idx", sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ms")).as("session_start_ms"),
        max(col("ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        graft.functions.detsum.sumDet(col("value")).as("sum_value"))
      .drop("session_idx")
  }

  /** Driver-contract form: stream the events table, sessionize statefully,
    * run to completion, return the CLOSED sessions (each user's still-open
    * last session stays in state — the oracle mirrors that by dropping the
    * max session index per user). */
  def runStreamToCompletion(spark: SparkSession, sfDir: String, gapMs: Long, name: String): DataFrame = {
    import spark.implicits._
    val evs = FlowStream.eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts) DIV 1000").as("ms"), col("value"))
      .as[Ev]
    Streams.run(statefulSessions(evs, gapMs).toDF(), name, "append").frame
  }

  /** Streaming sessionization with explicit per-user state. Emits sessions
    * when closed by a later event or by processing-time timeout. */
  def statefulSessions(events: Dataset[Ev], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) => {
          val sorted = evs.toSeq.sortBy(e => (e.ms, e.event_id))
          val closed = Seq.newBuilder[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(st) if e.ms - st.lastMs <= gapMs =>
                cur = Some(st.copy(lastMs = e.ms, n = st.n + 1, sumScaled = st.sumScaled + scaled(e.value)))
              case Some(st) =>
                closed += Session(user, st.startMs, st.lastMs, st.n.toLong, st.sumScaled.toDouble / Factor)
                cur = Some(SessionState(e.ms, e.ms, 1, scaled(e.value)))
              case None =>
                cur = Some(SessionState(e.ms, e.ms, 1, scaled(e.value)))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
        })
  }
}
