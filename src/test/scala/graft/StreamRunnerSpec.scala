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
