package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The one runner of graft's memory-sink streams: every `st*` entry but
  * st12 (whose `foreachBatch` maintains an index instead of filling a sink)
  * runs its streaming frame to completion here.
  *
  * The query starts in the frame's own session, so listeners on that
  * session's `streams` see its progress. Its state stores take
  * `spark.sql.shuffle.partitions`, which [[graft.GraftSession]] sets once
  * ([[graft.GraftSession.StatePartitions]]); nothing here touches a conf, so
  * concurrent callers on one session do not race. */
object Streams {

  /** A finished run: the memory sink's rows and the query's last progress
    * (after AvailableNow's trailing no-data batch, so state metrics there
    * reflect the final watermark's evictions). */
  final case class Finished(frame: DataFrame, lastProgress: StreamingQueryProgress)

  private val runs = new AtomicLong()

  /** Run `df` under AvailableNow into a memory sink in output `mode`.
    *
    * Each run's query (and sink view) is named `<prefix>_<n>`, unique in
    * the JVM, so two runs of one entry can be active at once. The sink
    * frame is resolved before the view is dropped: the frame keeps its
    * rows, and repeated runs pin no earlier sink. With `checkpoint` the
    * query keeps its offsets and state there, and a later run on the same
    * directory resumes after the last committed batch; without it Spark
    * uses a temporary directory it deletes on success. A checkpoint takes
    * complete mode: Spark resumes a memory sink in no other mode, so any
    * other mode with a checkpoint throws IllegalArgumentException before
    * the query starts. */
  def run(df: DataFrame, prefix: String, mode: String, checkpoint: Option[String] = None): Finished = {
    require(checkpoint.isEmpty || mode.equalsIgnoreCase("complete"),
      s"a checkpointed memory-sink stream must run in complete mode, got '$mode'")
    val spark = df.sparkSession
    val name = s"${prefix}_${runs.incrementAndGet()}"
    val writer = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
    try {
      q.awaitTermination()
      Finished(spark.table(name), q.lastProgress)
    } finally spark.catalog.dropTempView(name)
  }
}
