package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool: per-micro-batch duration breakdown for the streaming-harness
  * queries — attaches a listener that prints every progress event's
  * durationMs map (triggerExecution, addBatch, getBatch, walCommit,
  * commitOffsets, queryPlanning) and state-operator commit times, then
  * runs the named registry queries once (after one warmup run each).
  * Usage: Test/runMain graft.tools.StreamProfile <q1,q2,...>; data dir
  * from SPARK_GRAFT_SF_DIR (default sf0.1), cores from SPARK_GRAFT_CPUS. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    @volatile var tag = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[$tag] started ${e.name}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ")
        val ops = p.stateOperators.toSeq.map(o =>
          s"${o.operatorName}(rows=${o.numRowsTotal},commitMs=${o.allUpdatesTimeMs}+${o.commitTimeMs})").mkString(" ")
        println(s"[$tag] batch=${p.batchId} rows=${p.numInputRows} $d | $ops")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    for (q <- args(0).split(",")) {
      tag = s"$q:warm"
      graft.SparkEntry.queries(q)(spark, dir).count()
      tag = q
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      println(f"[$q] TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
