package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{FlowQueries, IngestQueries}
import graft.streaming.{FlowStream, Streams}

/** The one stream runner ([[graft.streaming.Streams]]): concurrent runs of
  * one entry on one session, restarts from a shared checkpoint, and the
  * split between the state-store partition count and the batch shuffle
  * parallelism that [[GraftSession]] sets once. */
class StreamRunnerSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def entry(q: String): Seq[String] = rows(SparkEntry.queries(q)(spark, sf))

  test("two concurrent st04 runs, st01 and batch q01 on one session match the sequential run") {
    val entries = Seq("st04_netflow_pipeline", "st04_netflow_pipeline", "st01_prop_sum_stream",
      "q01_prop_sum_basic")
    val sequential = entries.distinct.map(q => q -> entry(q)).toMap
    val pool = Executors.newFixedThreadPool(entries.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // every thread starts its entry at once, so both st04 runs are active
    // together
    val start = new CyclicBarrier(entries.size)
    try {
      val concurrent = Await.result(
        Future.sequence(entries.map(q => Future { start.await(); q -> entry(q) })), 5.minutes)
      concurrent.foreach { case (q, r) => assert(r == sequential(q), s"$q diverged when run concurrently") }
    } finally pool.shutdown()
  }

  test("st03b restarted from its checkpoint after half its feed equals an uninterrupted run") {
    val parts = IngestQueries.partFiles(FlowStream.dedupTsSpool(spark, sf))
    assert(parts.size == 4, s"st03b's spool should hold 4 ts-range files, got $parts")
    val feed = IngestQueries.scratchDir("graft_restart_feed")
    val ckpt = IngestQueries.scratchDir("graft_restart_ckpt").toString
    def runFeed() = Streams.run(FlowStream.boundedDedup(spark, feed.toString), "st03b_restart", "complete",
      Some(ckpt))
    IngestQueries.arrive(parts.take(2), feed, "a")
    val first = runFeed()
    IngestQueries.arrive(parts.drop(2), feed, "b")
    val second = runFeed()
    val whole = FlowStream.streamingDedupBounded(spark, sf, "st03b_whole")
    def total(df: DataFrame): Long = df.collect().map(_.getAs[Long]("n_distinct")).sum
    assert(total(first.frame) < total(whole), "the first half alone must not already hold every row")
    // the second run resumed from the checkpoint's offsets, watermark and
    // state: it went on from the first run's batches and reports every row
    assert(second.lastProgress.batchId > first.lastProgress.batchId)
    assert(rows(second.frame) == rows(whole))
  }

  test("st01 restarted from its checkpoint after half its feed equals an uninterrupted run") {
    val events = queries.Tables(spark, sf, "events")
    val spool = IngestQueries.scratchDir("graft_restart_events")
    events.repartitionByRange(2, col("event_id")).write.mode("overwrite").parquet(spool.toString)
    val parts = IngestQueries.partFiles(spool)
    assert(parts.size == 2, s"the events spool should hold 2 event_id-range files, got $parts")
    val feed = IngestQueries.scratchDir("graft_restart_events_feed")
    val ckpt = IngestQueries.scratchDir("graft_restart_st01_ckpt").toString
    def runFeed() = Streams.run(
      FlowStream.series(FlowStream.flows(spark.readStream.schema(events.schema).parquet(feed.toString)),
        FlowQueries.basicCfg),
      "st01_restart", "complete", Some(ckpt))
    IngestQueries.arrive(parts.take(1), feed, "a")
    val first = runFeed()
    IngestQueries.arrive(parts.drop(1), feed, "b")
    val second = runFeed()
    val whole = entry("st01_prop_sum_stream")
    assert(rows(first.frame) != whole, "the first half alone must not already give the whole series")
    assert(second.lastProgress.batchId > first.lastProgress.batchId)
    assert(rows(second.frame) == whole)
  }

  /** Write `in`'s rows before and after `cut` (by `key`) as one part file
    * each; the two halves' files in arrival order. */
  private def halves(in: DataFrame, key: org.apache.spark.sql.Column, cut: Long,
      prefix: String): Seq[Seq[java.nio.file.Path]] = {
    val dir = IngestQueries.scratchDir(prefix)
    Seq("a" -> (key < cut), "b" -> (key >= cut)).map { case (tag, keep) =>
      val sub = dir.resolve(tag)
      in.filter(keep).coalesce(1).write.parquet(sub.toString)
      IngestQueries.partFiles(sub)
    }
  }

  /** Feed `parts` to `stream(feedDir)` in two arrivals, running it to
    * completion after each into one parquet sink on one checkpoint: a
    * durable append sink (Spark resumes a memory sink from its checkpoint
    * only in complete mode). After each run: the sink's rows and the run's
    * last batch id. */
  private def restarted(parts: Seq[Seq[java.nio.file.Path]], prefix: String)(
      stream: String => DataFrame): Seq[(Seq[String], Long)] = {
    val feed = IngestQueries.scratchDir(s"${prefix}_feed")
    val out = IngestQueries.scratchDir(s"${prefix}_out").toString
    val ckpt = IngestQueries.scratchDir(s"${prefix}_ckpt").toString
    Seq("a", "b").zip(parts).map { case (tag, files) =>
      IngestQueries.arrive(files, feed, tag)
      val q = stream(feed.toString).writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (rows(spark.read.parquet(out)), q.lastProgress.batchId)
    }
  }

  test("st06's join restarted from its checkpoint after half its feed equals an uninterrupted run") {
    import org.apache.spark.sql.functions.{expr, lit, timestamp_millis, when}
    // st06's own feed pairs no purchase with an error within the hour at
    // sf0.001 (nor at sf0.01), so its join runs over the events re-typed:
    // even ids purchases, odd ids errors, three users
    val feed = queries.Tables(spark, sf, "events")
      .select(col("event_id"), (col("user_id") % 3).as("user_id"),
        when(col("event_id") % 2 === 0, lit("purchase")).otherwise(lit("error")).as("event_type"),
        lit(400.0).as("value"), timestamp_millis(expr("unix_micros(ts) DIV 1000")).as("ts"))
    val all = IngestQueries.scratchDir("graft_restart_st06_all").toString
    feed.coalesce(1).write.mode("overwrite").parquet(all)
    val joined = Streams.run(queries.RelationalQueries.purchaseErrorJoin(spark, all), "st06_whole", "append")
      .frame
    val whole = rows(joined)
    // cut at the median pair's error time: the pairs whose error comes
    // earlier lie wholly in the first half, the median pair's error in the
    // second. The second half's rows are all later than the first run's
    // watermark, and the first half's purchases within an hour of the cut
    // stay in the join state.
    val ms = expr("unix_millis(ts)")
    val errorMs = joined.join(feed, col("error_id") === col("event_id")).select(ms)
      .collect().map(_.getLong(0)).sorted
    val cut = errorMs(errorMs.length / 2)
    assert(errorMs.head < cut, s"the feed needs pairs at two error times, got ${errorMs.toSeq}")
    val Seq((half, firstBatch), (both, lastBatch)) =
      restarted(halves(feed, ms, cut, "graft_restart_st06"), "graft_restart_st06")(
        queries.RelationalQueries.purchaseErrorJoin(spark, _))
    assert(half.nonEmpty && half != whole, "the first half must emit some pairs, not all")
    assert(lastBatch > firstBatch)
    assert(both == whole)
  }

  test("st07 restarted from its checkpoint after half its feed equals an uninterrupted run") {
    import org.apache.spark.sql.functions.{expr, max, min}
    import queries.Flows.{DAY_MS, HOUR_MS}
    val events = queries.Tables(spark, sf, "events")
    val ms = expr("unix_micros(ts) DIV 1000")
    val bounds = events.agg(min(ms), max(ms)).head()
    // cut at a day boundary, which is an hour bucket's start: every bucket
    // the second half touches starts at or after the cut, above the first
    // run's final watermark (its last bucket − 2 h, at most the cut − 1 h),
    // so no second-half row arrives late
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2 / DAY_MS * DAY_MS
    val spec = operators.ProportionalSum.Spec(Seq("rs", "re", "v"), FlowQueries.basicCfg)
    val Seq((half, firstBatch), (both, lastBatch)) = restarted(
        halves(events, ms, cut, "graft_restart_st07"), "graft_restart_st07") { dir =>
      FlowStream.appendSeries(FlowStream.flows(spark.readStream.schema(events.schema).parquet(dir)),
        spec, 2 * HOUR_MS).select(col("bucket_ms"), col("doc_count"), col("value"))
    }
    val whole = entry("st07_prop_sum_append")
    assert(half.nonEmpty && half != whole, "the first run must finalize some buckets, not all")
    assert(lastBatch > firstBatch)
    assert(both == whole)
  }

  test("a checkpoint with an append-mode memory sink is rejected before the query starts") {
    val ckpt = IngestQueries.scratchDir("graft_append_ckpt").toString
    val before = spark.streams.active.length
    val ex = intercept[IllegalArgumentException](Streams.run(
      FlowStream.flowSource(spark, sf), "append_ckpt", "append", Some(ckpt)))
    assert(ex.getMessage.contains("complete mode"), ex.getMessage)
    assert(spark.streams.active.length == before, "no query may start")
    assert(!new java.io.File(ckpt, "offsets").exists, "nothing may be written to the checkpoint")
  }

  test("a listener on the caller's session sees st04's state stores at StatePartitions; batch keeps the cores") {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = seen.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(entry("st04_netflow_pipeline").nonEmpty)
      org.apache.spark.GraftListenerAccess.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    val ops = seen.asScala.toSeq.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "no st04 progress reached the session's listener")
    assert(ops.forall(_.numShufflePartitions == GraftSession.StatePartitions),
      ops.map(_.numShufflePartitions).distinct.mkString(","))
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    assert(conf.numShufflePartitions == 4, "batch plans take the builder's core count")
  }
}
