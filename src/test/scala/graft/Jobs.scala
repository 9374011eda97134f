package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job, stage and compile counting for the budget specs: a listener
  * records the description of every job started while `f` runs, or the
  * task count of every stage it completes, and Spark's codegen metrics
  * count the classes it compiles. */
object Jobs {

  /** Descriptions of the jobs `f` runs on `spark`'s context. */
  def descriptions(spark: SparkSession)(f: => Unit): Seq[String] =
    recorded[String](spark, seen => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(queries.Tables.JobDescription))).getOrElse(""))
    })(f)

  /** Task count of each stage `f` completes on `spark`'s context, in
    * completion order: an action's result stage comes last. */
  def stageTasks(spark: SparkSession)(f: => Unit): Seq[Int] =
    recorded[Int](spark, seen => new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = seen.add(e.stageInfo.numTasks)
    })(f)

  /** What `listener` records while `f` runs, every event of `f` delivered. */
  private def recorded[T](spark: SparkSession, listener: ConcurrentLinkedQueue[T] => SparkListener)(
      f: => Unit): Seq[T] = {
    val seen = new ConcurrentLinkedQueue[T]()
    val l = listener(seen)
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.GraftListenerAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }

  /** Generated classes compiled while `f` runs: every cache miss of Spark's
    * codegen cache compiles one class, so a warm `f` compiles 0. The count
    * is JVM-wide; nothing else may run concurrently. */
  def compiled(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
