package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the build-once index rebuild: every artifact build tags
  * its jobs `artifact:<kind>`, so a listener counts the jobs each build
  * runs. The pins are the counts after the one-shuffle Lloyd rounds and
  * the one-aggregate postings stats; a change that adds a driver
  * round-trip or a shuffle to a build fails here. */
class BuildBudgetSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** Descriptions of the jobs `f` runs. */
  private def jobDescriptions(f: => Unit): Seq[String] = {
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

  test("a full rebuild runs the pinned number of jobs per artifact") {
    queries.VecIndex.reset()
    queries.TextQueries.resetTextIndex(spark, sf)
    val coarse = jobDescriptions(queries.VecIndex.coarse(spark, sf))
    val pq = jobDescriptions(queries.VecIndex.pq(spark, sf))
    val text = jobDescriptions(queries.TextQueries.buildTextIndex(spark, sf))
    // every job of a build carries its artifact tag
    assert(coarse.forall(_ == "artifact:vec.coarse"), coarse)
    assert(pq.forall(_ == "artifact:vec.pq"), pq)
    assert(text.forall(_.startsWith("artifact:text.")), text)
    val byKind = text.groupBy(identity).map { case (k, v) => k -> v.size }
    info(s"coarse ${coarse.size}, pq ${pq.size}, text ${text.size} $byKind")
    assert(coarse.size == 17, "VecIndex.coarse jobs")
    assert(pq.size == 12, "VecIndex.pq jobs")
    assert(text.size == 22, s"buildTextIndex jobs: $byKind")
    // the caller's own description is restored after each build
    assert(spark.sparkContext.getLocalProperty(queries.Tables.JobDescription) == null)
  }
}
