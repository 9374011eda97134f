package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet loader for the driver-generated TPC-H-ish test schema.
  *
  * The generator writes TIMESTAMP(NANOS) columns, which Spark only reads as
  * nano-longs under `spark.sql.legacy.parquet.nanosAsLong` (set by
  * [[graft.GraftSession]]). This loader converts them back to TimestampType
  * (floor to micros — DuckDB's TIMESTAMP_NS→TIMESTAMP cast truncates the
  * same way, keeping both engines bit-identical).
  *
  * Each table's schema is inferred once per (session, path) and reused by
  * every later read in that session ([[schema]]): files are still listed
  * on every read, so a file replaced under the same schema is seen, but a
  * table whose schema is rewritten in place within a session is not
  * supported. */
object Tables {

  private val tsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Run `f` with the calling thread's Spark job description set to
    * `desc`, restoring the caller's description after — so an event log
    * can attribute the jobs of concurrent builds (each on its own thread)
    * to the artifact that ran them. */
  def withJobDescription[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(desc)
    try f finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The local property `SparkContext.setJobDescription` writes. */
  private[graft] val JobDescription = "spark.job.description"

  /** `df` hash-spread by `key` over the cluster's parallelism. Locally a
    * single-row-group parquet file scans as ONE partition, so a CPU-bound
    * per-row step after the scan runs on one core unless it is spread the
    * way a many-split cluster scan would be. The partition count is
    * explicit because AQE may coalesce a by-column repartition that has
    * none: at small scale it merges the spread back into ONE partition, so
    * the query pays for the shuffle and the work still runs on one core. */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Collect `df` (coordinator-sized by contract) to the driver and return
    * it as a LocalRelation — the ES coordinator-materialization analog.
    * Shared by materializeAndFree, VecIndex, and the one-row-aggregate
    * queries so the collect/rebuild idiom lives in exactly one place. */
  def localize(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Collect the (coordinator-sized: top-N / final-agg) `result` to the
    * driver, then SYNCHRONOUSLY free `sketch`'s localCheckpoint blocks —
    * deterministic release, no reliance on GC + ContextCleaner timing. The
    * returned frame is a LocalRelation (the exact analog of an ES response
    * materializing on the coordinator); the big intermediates stay
    * distributed and their storage is gone when this returns. */
  def materializeAndFree(result: DataFrame, sketch: DataFrame): DataFrame = {
    val local = localize(result)
    sketch.unpersist(blocking = true) // cache()/persist()-backed storage
    freeCheckpoint(sketch) // localCheckpoint-backed storage (no-op otherwise)
    local
  }

  /** Synchronously unpersist the localCheckpoint blocks backing `df` (a
    * frame returned by `localCheckpoint(true)`) — ROOT only. A caller owns
    * exactly the checkpoint it created, which is the plan ROOT; anything
    * deeper is someone else's: a sketch whose plan reads a shared
    * build-once [[Artifacts]] frame (a LogicalRDD leaf) must not tear the
    * artifact's blocks out from under every later consumer
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on lineage-truncated frames). */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case other =>
        // not a direct checkpoint frame — nothing OWNED to free. But a
        // derived plan that still CONTAINS checkpoint leaves signals an
        // ownership mistake at the call site (the caller meant to free the
        // root it checkpointed and passed a derived frame instead): that
        // leaks blocks silently, so surface it loudly instead of quietly
        // doing nothing.
        if (other.collectLeaves().exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
          System.err.println(
            "[graft] freeCheckpoint: called on a DERIVED frame whose plan contains " +
              "checkpoint leaves — nothing freed; pass the checkpoint root itself")
    }

  /** Coerce `name`'s declared timestamp columns to TimestampType whatever
    * physical type the drop and session config produced — nano-longs under
    * `nanosAsLong`, TimestampNTZ under a foreign session that skipped
    * GraftSession's `inferTimestampNTZ=false`. Shared by the batch reader
    * below and the streaming file sources
    * ([[graft.streaming.FlowStream.tableStream]]), so every path that
    * reads `ts` downstream sees the same type. */
  def coerceTs(df0: DataFrame, name: String): DataFrame =
    tsCols.getOrElse(name, Nil).filter(df0.columns.contains).foldLeft(df0) { (df, c) =>
      if (df.schema(c).dataType == org.apache.spark.sql.types.LongType)
        df.withColumn(c, timestamp_micros(expr(s"`$c` DIV 1000")))
      else if (df.schema(c).dataType == org.apache.spark.sql.types.TimestampNTZType)
        // only reachable from a foreign session, which may also run a
        // non-UTC session timezone — a bare NTZ→Timestamp cast would
        // interpret the naive wall clock in THAT zone and silently shift
        // the instant. The naive values are UTC by the generator contract:
        // rebuild the instant from the NTZ fields with an EXPLICIT 'UTC'
        // zone (make_timestamp), which is session-tz-independent AND free
        // of the DST fall-back ambiguity a render-then-cast round trip has
        // in zones with overlapping wall clocks (UTC has no DST). extract
        // SECOND keeps the fractional micros (DECIMAL(8,6)).
        df.withColumn(c,
          expr(s"make_timestamp(year(`$c`), month(`$c`), day(`$c`), " +
            s"hour(`$c`), minute(`$c`), extract(SECOND FROM `$c`), 'UTC')"))
      else df
    }

  /** `name`'s parquet schema as inferred under `sfDir`, before [[coerceTs]].
    * Inference runs a Spark job, so it runs once per (session, sfDir): the
    * schema is the build-once artifact `table.<name>`. The batch reader
    * below and the streaming file sources
    * ([[graft.streaming.FlowStream.tableStream]]) both read through it. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    Artifacts(spark, sfDir, s"table.$name")(spark.read.parquet(s"$sfDir/$name.parquet").schema)

  /** The `name` table under `sfDir`, timestamps coerced ([[coerceTs]]).
    * Reads with the session's [[schema]], so a warm call runs no job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    coerceTs(spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet"), name)
}
