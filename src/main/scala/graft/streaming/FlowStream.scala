package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ProportionalSum
import graft.operators.ProportionalSum.Config

/** Structured Streaming form of the proportional_sum pipeline.
  *
  * The reference ingests flow documents continuously (Drift pushes
  * netflow/IPFIX into ES); the Spark-native equivalent is a streaming read →
  * the SAME stateless explode-contrib transform → streaming aggregation.
  * Because `explodeContrib` is stateless, the entire batch operator reuses
  * unchanged; only the sink/output mode differs.
  *
  * Demo/contract path uses complete-mode + memory sink over AvailableNow so
  * the result is the finished histogram (verifiable against the batch
  * oracle, [[runToCompletion]]). Production path: `withWatermark` on the
  * bucket timestamp + append mode, which bounds state by
  * `watermark / interval` buckets ([[runAppendMode]]). */
object FlowStream {

  /** Streaming file-source for ONE table: the file source wants a directory
    * of (arriving) files and the test dir mixes all tables, so expose the
    * table alone via a fresh symlink dir (registered for JVM-exit cleanup;
    * link before dir — deleteOnExit deletes in reverse registration order).
    * The ONE copy of this scaffold, shared by every streaming harness. */
  private[streaming] def tableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(s"graft_stream_$table")
    val link = Files.createSymbolicLink(
      dir.resolve(s"$table.parquet"), Paths.get(sfDir, s"$table.parquet"))
    dir.toFile.deleteOnExit()
    link.toFile.deleteOnExit()
    // the batch reader's per-session schema and ts coercion
    // (graft.queries.Tables): under a nanos drop the schema carries LongType
    // ts (nanosAsLong), and the downstream unix_micros(ts) would fail at
    // analysis without the coercion
    graft.queries.Tables.coerceTs(
      spark.readStream
        .schema(graft.queries.Tables.schema(spark, sfDir, table))
        .parquet(dir.toString),
      table)
  }

  /** Raw streaming read of the events table. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "events")

  /** Streaming version of [[graft.queries.Flows.df]] over the events file. */
  def flowSource(spark: SparkSession, sfDir: String): DataFrame =
    flows(eventsStream(spark, sfDir))

  /** [[flowSource]]'s flow rows over a stream of `events` rows. */
  private[graft] def flows(events: DataFrame): DataFrame =
    events
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value").as("v"),
        // ts arrives as TimestampType (see GraftSession); floor to millis
        expr("unix_micros(ts) DIV 1000").as("rs"))
      .withColumn("re", col("rs") + (col("event_id") % 7200) * 1000)

  /** Streaming exact-dedup: dropDuplicates on the content fingerprint keyed
    * per source — the always-on ingest-time form of batch dedup. State is
    * one fingerprint per distinct doc (bound it with
    * `withWatermark + dropDuplicatesWithinWatermark` on unbounded feeds).
    * Counts match `COUNT(DISTINCT fp)` per source, so it is oracle-checkable. */
  def streamingDedupCounts(spark: SparkSession, sfDir: String, name: String): DataFrame =
    streamingDedupCountsWithState(spark, sfDir, name)._1

  /** st03 + its final dedup-operator state row count (what the st03b spec
    * compares against): dropDuplicates state grows with every distinct
    * fingerprint FOREVER — the always-on-collector liability st03b fixes. */
  def streamingDedupCountsWithState(
      spark: SparkSession, sfDir: String, name: String): (DataFrame, Long) = {
    val docs = tableStream(spark, sfDir, "documents")
      .withColumn("fp", md5(graft.functions.text.norm(col("text")).cast("binary")))
      .dropDuplicates("source", "fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))
    val done = Streams.run(docs, name, "complete")
    (done.frame, dedupStateRows(done))
  }

  /** Final state-store row count of a run's dedup operator (falls back to
    * the max across operators if the engine renames it) — read from the
    * LAST progress, i.e. after AvailableNow's trailing no-data batch has
    * applied the final watermark's evictions. */
  private def dedupStateRows(done: Streams.Finished): Long = {
    val ops = Option(done.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    val dedup = ops.filter(_.operatorName.toLowerCase.contains("dedupe"))
    (if (dedup.nonEmpty) dedup else ops).map(_.numRowsTotal).maxOption.getOrElse(0L)
  }

  /** st03b — the 100 TB always-on form of st03: dedup state BOUNDED by an
    * event-time watermark (`dropDuplicatesWithinWatermark`) instead of
    * growing with every distinct fingerprint forever. The derived ingest
    * timestamp comes from the FINGERPRINT (first 6 hex chars mod 86400
    * seconds into the day), so all duplicates of a fingerprint share ONE
    * event time — within-watermark dedup is then provably identical to
    * global dedup at ANY delay, and the output stays checkable against
    * st03's batch oracle while the state store drains behind the
    * watermark. The spool is range-partitioned on ts with equalized
    * mtimes, so the file source's listing order IS event-time order:
    * under maxFilesPerTrigger=1 the watermark advances between the 4
    * micro-batches (eviction happens MID-STREAM, the production shape)
    * and no row can arrive behind it (no late drops — every first
    * occurrence is emitted). */
  def streamingDedupBoundedWithState(
      spark: SparkSession, sfDir: String, name: String): (DataFrame, Long) = {
    val done = Streams.run(boundedDedup(spark, dedupTsSpool(spark, sfDir).toString), name, "complete")
    (done.frame, dedupStateRows(done))
  }

  /** st03b's arrival feed: the documents' (source, fp, ts) in 4 ts-range
    * part files, built (and mtime-stamped) once per (session, dataset) —
    * spoolOnce; each run replays the same 4 files. */
  private[graft] def dedupTsSpool(spark: SparkSession, sfDir: String): java.nio.file.Path =
    graft.queries.IngestQueries.spoolOnce(spark, sfDir, "dedup_ts") { p =>
      graft.queries.Tables(spark, sfDir, "documents")
        .withColumn("fp", md5(graft.functions.text.norm(col("text")).cast("binary")))
        .withColumn("ts", expr(
          s"timestamp_millis(${graft.queries.Flows.JAN_START_MS}L + " +
            "(cast(conv(substring(fp, 1, 6), 16, 10) as bigint) % 86400) * 1000)"))
        .select(col("source"), col("fp"), col("ts"))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(p.toString)
      // the file source orders batches by file mtime — stamp STRICTLY
      // increasing mtimes in part-file (= ts-range) order so arrival order
      // is deterministically the event-time order (equal mtimes leave the
      // order to the filesystem listing, which can drop first-occurrences
      // as late data)
      val now = System.currentTimeMillis()
      graft.queries.IngestQueries.partFiles(p).zipWithIndex.foreach { case (f, i) =>
        // fail LOUDLY if the stamp doesn't take: on a filesystem that
        // refuses setLastModified, arrival order silently degrades to
        // listing order and st03b emits wrong counts with no error
        require(f.toFile.setLastModified(now + i * 60000L),
          s"setLastModified failed on $f — spool arrival order would be nondeterministic")
      }
    }

  /** st03b's stream over the arrival directory `dir` (files of
    * [[dedupTsSpool]]), one file per micro-batch. */
  private[graft] def boundedDedup(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("source STRING, fp STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("source", "fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))

  def streamingDedupBounded(spark: SparkSession, sfDir: String, name: String): DataFrame =
    streamingDedupBoundedWithState(spark, sfDir, name)._1

  /** Production-collector shape: append-mode proportional_sum with an
    * event-time watermark on the bucket timestamp. Only FINALIZED buckets
    * are emitted — a bucket leaves the state store once the watermark
    * (max observed bucket time − delay) passes it — so state is bounded by
    * `delay / interval` open buckets per group regardless of stream length,
    * and late flows beyond the delay are dropped instead of reopening
    * history. Contrast with [[runToCompletion]] (complete mode: the whole
    * series stays in state, right for finite backfills only).
    *
    * Emission boundary, empirically pinned (the q25b method — probed, then
    * encoded in the spec AND the DuckDB oracle): with delay D, the final
    * watermark is `max(bucket_ts) − D` exactly (no rounding), a bucket is
    * emitted iff `bucket_ts <= watermark` (NON-strict — the bucket AT the
    * watermark is evicted), and an arriving row is dropped as late iff its
    * event time `<= watermark` (also non-strict — the two predicates agree,
    * so an accepted row can always still reach live state). AvailableNow
    * runs one extra no-data micro-batch after the last file so the final
    * watermark's evictions flush — without it append mode would emit
    * nothing on a single-file source.
    *
    * The spec's grid is fixed (st07, and st20 through the JSON door) or
    * calendar (st11, q06's monthly series: the buckets vary in width, so
    * state stays bounded by `delay / min-bucket-width` open buckets). */
  def runAppendMode(flows: DataFrame, spec: ProportionalSum.Spec, delayMs: Long, name: String): DataFrame =
    Streams.run(appendSeries(flows, spec, delayMs), name, "append")
      .frame.select(col("bucket_ms"), col("doc_count"), col("value"))

  /** [[runAppendMode]]'s watermarked streaming aggregate, not yet run. */
  private[graft] def appendSeries(flows: DataFrame, spec: ProportionalSum.Spec, delayMs: Long): DataFrame = {
    require(spec == ProportionalSum.Spec(spec.fields, spec.cfg),
      s"append mode takes the fields and the grid only, got $spec")
    val (rs, re, v, sampling) = ProportionalSum.specColumns(flows, spec)
    // the watermark is on the bucket start timestamp with the EXACT delay
    // (the oracle subtracts the full delayMs), so it joins the group key
    val exploded = ProportionalSum.explodeContrib(flows, rs, re, v, sampling, spec.cfg)
      .withColumn("bucket_ts", timestamp_millis(col("bucket_ms")))
      .withWatermark("bucket_ts", s"$delayMs milliseconds")
    ProportionalSum.aggregate(exploded, Seq(col("bucket_ts")))
  }

  /** Always-on top-K talkers: the Space-Saving sketch
    * ([[graft.plans.TopKFreq]]) as a STREAMING aggregation — the state
    * store holds one bounded sketch buffer per group (capacity counters,
    * regardless of user cardinality), the live form of the Drift UI's top
    * talkers. Merge-order invariance (spec-pinned for the batch agg) is
    * what makes the result independent of micro-batch arrival order; when
    * distinct keys fit the capacity the sketch is exact, so the finished
    * stream hash-matches q11c's exact DuckDB oracle. */
  def streamingTopK(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr("topk_freq(CAST(user_id AS STRING), 200)").as("top_users"))
    Streams.run(agg, name, "complete").frame
      .select(col("event_type"), posexplode(col("top_users")).as(Seq("pos", "tu")))
      .select(
        col("event_type"),
        (col("pos") + 1).cast("long").as("rank"),
        col("tu.item").as("item"),
        col("tu.cnt").as("cnt"))
      .filter(col("rank") <= 5)
  }

  /** Always-on percentile monitoring: the mergeable binned-histogram
    * quantile sketch ([[graft.plans.HistQuantile]]) as a streaming
    * aggregation — bounded sketch state per group, the live latency/size
    * percentile view. Deterministic merge (spec-pinned) ⇒ the finished
    * stream equals the batch sketch exactly (StreamingSpec asserts it). */
  def streamingQuantiles(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        expr("hist_quantile(value, 0.5, 0.0, 1000.0, 1000)").as("p50"),
        expr("hist_quantile(value, 0.95, 0.0, 1000.0, 1000)").as("p95"))
    Streams.run(agg, name, "complete").frame
  }

  /** Run the stream to completion (AvailableNow) and return the final
    * histogram — the driver-contract entry point. Matches the batch q01
    * result exactly, so it shares q01's DuckDB oracle. */
  def runToCompletion(spark: SparkSession, sfDir: String, cfg: Config, name: String): DataFrame =
    Streams.run(series(flowSource(spark, sfDir), cfg), name, "complete").frame

  /** The proportional_sum series of a flow stream under `cfg`. */
  private[graft] def series(flows: DataFrame, cfg: Config): DataFrame =
    ProportionalSum.run(flows, col("rs"), col("re"), col("v"), None, cfg)
}
