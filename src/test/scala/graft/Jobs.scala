package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for the budget specs: a listener records the description
  * of every job started while `f` runs. */
object Jobs {

  /** Descriptions of the jobs `f` runs on `spark`'s context. */
  def descriptions(spark: SparkSession)(f: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(queries.Tables.JobDescription))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.GraftListenerAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }
}
